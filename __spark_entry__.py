"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship privacy-preserving linkage pipeline on
the sf0.001 documents table. ``queries()`` exposes each implemented
operator from SURVEY.md §2 (plus the training-data-pipeline extensions)
over the driver's parquet tables; ``oracle_sql()`` gives the exact
DuckDB-SQL equivalent — including the salted SHA-256 Bloom hashing, whose
little-endian-mod semantics are reproduced in SQL via a Horner fold over
the digest bytes.

Column names and types are aligned on both sides (BIGINT ids/counts,
ROUND(x, 6) doubles) because the driver hash-compares values.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pprl_spark.functions.features import bigram_col
from pprl_spark.functions import text as TXT
from pprl_spark.operators import ann as ANN
from pprl_spark.operators.blocking import MINHASH_PRIME, band_keys, minhash_coeffs
from pprl_spark.operators.cluster import connected_components

BF_SIZE = 1024
NUM_HASHES = 2
MH_PERMS = 6
MH_BANDS = 3
MH_ROWS = MH_PERMS // MH_BANDS
ENTRY_SF_DIR = "/root/testdata/sf0.001"  # the table set entry() links


# Per-session memo of base/derived DataFrames. Besides avoiding repeated
# scans when the driver runs many queries in one session, this works around
# a Spark 4.1 planner quirk: two *separately constructed* but identical
# plans containing a pandas UDF over the same parquet path can make the
# second execution skip Python-UDF extraction (codegen then fails on the
# raw PythonUDF expression). Reusing the same DataFrame object sidesteps it.
_MEMO: dict[tuple, DataFrame] = {}


def _floor6(col):
    """Order- and engine-deterministic 6-decimal truncation.

    ``round(x, 6)`` diverges between engines when x's exact decimal
    expansion ties at the 7th digit — which HAPPENS for ratios of small
    integers with power-of-2/5 denominators (quality = k/80, jaccard =
    p/2^a, WAV level = amp/2^15): Spark rounds the binary double, DuckDB
    rounds a decimal rendering, and a tie resolves differently (observed
    once at sf0.001: 0.661562 vs 0.661563). floor(x*1e6)/1e6 evaluates
    identically on the identical IEEE double both engines compute, with
    no tie to resolve. SQL twin: floor(x * 1000000)/1000000.0.
    """
    return F.floor(col * F.lit(1e6)) / F.lit(1e6)


def _skey(spark: SparkSession) -> str:
    # applicationId, not id(spark): id() values can be reused after a
    # session is GC'd, silently serving a dead session's plans
    return spark.sparkContext.applicationId


def _memoized(key: tuple, build) -> DataFrame:
    df = _MEMO.get(key)
    if df is None:
        df = build()
        _MEMO[key] = df
    return df


def invalidate_memo(spark: SparkSession, sf_dir: str, names: list[str]) -> None:
    """Drop memoized stage frames so the next call genuinely rebuilds them.

    The bench harness calls this between repeat samples of memo-backed
    queries: without it a repeat would just re-count an already
    materialized localCheckpoint and record ~0s, making the official
    medians unfalsifiable. Dropping the reference (plus the caller's
    gc.collect()) lets ContextCleaner free the checkpoint blocks.
    """
    k0 = _skey(spark)
    for n in names:
        _MEMO.pop((k0, sf_dir, n), None)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-file parquet arrives as 1 input split; spread rows across the
    # cluster before the (CPU-bound) embed UDF so all cores work
    return _memoized(
        (_skey(spark), sf_dir, "documents"),
        lambda: spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
            spark.sparkContext.defaultParallelism
        ),
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memoized(
        (_skey(spark), sf_dir, "embeddings"),
        lambda: spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
    )


# ---------------------------------------------------------------------------
# Spark-side building blocks (shared by several queries)
# ---------------------------------------------------------------------------


def _grams(df: DataFrame) -> DataFrame:
    """(doc_id, feats array<string>): distinct reference-semantics bigrams."""
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.array_distinct(bigram_col("text")).alias("feats"),
    )


def _bloom(df: DataFrame) -> DataFrame:
    """(doc_id, feats, bf_indices, bf_bitmap, mh_sig, collision_fraction)
    through the embed stage's batch kernel (``embedding.bloom_batch``).

    mapInPandas rather than a column pandas UDF: a logical operator cannot
    be missed by Python-UDF extraction (Spark 4.1 drops the extraction on
    re-executed plans that share higher-order-function subtrees, leaving a
    raw PythonUDF inside a codegen Project), and the batch iterator shares
    one hash memo across the whole Arrow batch.
    """

    def kernel(batches):
        from pprl_spark.operators.embedding import bloom_batch

        for pdf in batches:
            yield pdf.assign(
                **bloom_batch(pdf["feats"], BF_SIZE, NUM_HASHES, 0, "", MH_PERMS)
            )

    return df.mapInPandas(
        kernel,
        "doc_id long, feats array<string>, bf_indices array<int>, "
        "bf_bitmap array<bigint>, mh_sig array<bigint>, "
        "collision_fraction double",
    )


def _embedded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized tokenize+bloom stage shared by all PPRL queries.

    Materialized via localCheckpoint — the in-session analog of the
    pipeline's checkpointed embed stage table (plans.pipeline): the Bloom
    UDF runs once, downstream self-joins see plain columns. This also
    avoids a Spark 4.1 bug where a pandas UDF appearing on both sides of
    a self-join is executed un-extracted inside a codegen Project.
    """
    return _memoized(
        (_skey(spark), sf_dir, "embedded"),
        lambda: _bloom(_grams(_docs(spark, sf_dir))).localCheckpoint(),
    )


def _blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bf_indices, bf_bitmap, block_key): band keys sliced from the
    embed kernel's MinHash signature (``mh_sig``) — same closed-form
    constants and ``mh{band}-…`` key strings as the SQL oracle."""
    emb = _embedded(spark, sf_dir)

    def build():
        return emb.select(
            "doc_id",
            "bf_indices",
            "bf_bitmap",
            F.explode(band_keys(F.col("mh_sig"), MH_BANDS, MH_ROWS, "mh{}")).alias("block_key"),
        )

    return _memoized((_skey(spark), sf_dir, "blocked"), build)


def _score_block_pairs(blocks: DataFrame, sim: str = "cosine") -> DataFrame:
    """Distinct ``id1 < id2`` pairs sharing a block key, scored by
    ``generate_candidates`` (cosine, or the reference's Dice) and rounded
    to the oracle's 6 decimals. ``cap=False``: the oracles score every
    blocked pair, so no block is thinned."""
    from pprl_spark.config import EmbedderConfig
    from pprl_spark.operators.candidates import generate_candidates

    cfg = EmbedderConfig(bf_size=BF_SIZE, num_hashes=NUM_HASHES, similarity=sim)
    return generate_candidates(blocks, None, cfg, cap=False).select(
        "id1", "id2", F.round("sim", 6).alias("sim")
    )


def _scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct candidate pairs sharing >=1 band key, cosine-scored.

    Memoized + materialized: four downstream queries (thresholds, match,
    clusters, entry) reuse the pair table instead of re-running the
    block-join — the in-session analog of the pipeline's candidates stage
    checkpoint.
    """
    return _memoized(
        (_skey(spark), sf_dir, "scored_pairs"),
        lambda: _score_block_pairs(_blocked(spark, sf_dir)).localCheckpoint(),
    )


def _minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup pairs over documents (k=2, J>=0.4, 4x2 banding).

    Memoized + materialized: ``dedup_minhash`` and ``dedup_clusters`` use
    the identical pair table — sharing the localCheckpoint runs the
    shingle/minhash/band join once per session instead of once per query
    (it was 23% of suite time combined with the CC loop)."""
    from pprl_spark.operators.dedup import minhash_near_duplicates

    return _memoized(
        (_skey(spark), sf_dir, "minhash_dedup_pairs"),
        lambda: minhash_near_duplicates(
            _docs(spark, sf_dir), k=2, threshold=0.4, bands=4, rows_per_band=2
        ).localCheckpoint(),
    )


def _setjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT AllPairs/PPJoin pair table (k=2 shingles, J>=0.4).

    Memoized + materialized: ``dedup_setjoin`` and ``dedup_recall_report``
    read the identical lossless pair table — sharing the localCheckpoint
    runs the prefix-filtered join once per session instead of once per
    query (it is the single most expensive stage in the suite, ~14s at
    sf0.1)."""
    from pprl_spark.functions.text import shingle_hashes
    from pprl_spark.operators.setjoin import jaccard_join

    def build():
        toks = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            shingle_hashes("text", k=2).alias("tokens"),
        )
        return jaccard_join(toks, threshold="0.4").localCheckpoint()

    return _memoized((_skey(spark), sf_dir, "setjoin_pairs"), build)


def _corpus_blocks_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-side block table persisted BUCKETED by the hashed block key.

    The write-once/probe-many artifact incremental matching reads: the
    corpus blocks are clustered by ``_bk`` on disk, so every delta batch
    joins against co-located scans with zero corpus-side exchange
    (``operators.candidates`` skips salting on the bucketed path and the
    plain delta side alone is shuffled into the bucket distribution).
    Memoized per session — the one-time clustering write happens on first
    use, like every other memoized stage in this suite."""

    def build():
        import hashlib
        import tempfile

        from pprl_spark.sources.tables import write_bucketed_blocks

        corpus = _blocked(spark, sf_dir).where(F.col("doc_id") % 5 != 0)
        n = spark.sparkContext.defaultParallelism
        tag = hashlib.md5(f"{_skey(spark)}:{sf_dir}".encode()).hexdigest()[:10]
        table = f"pprl_bench_corpus_{tag}"
        path = tempfile.mkdtemp(prefix="pprl_corpus_bkt_")
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        write_bucketed_blocks(corpus, table, path, n_buckets=n)
        return spark.table(table)

    return _memoized((_skey(spark), sf_dir, "corpus_bkt"), build)


def _ivf_index(spark: SparkSession, sf_dir: str):
    """(centroids, lists) of a persisted IVF index over the embeddings
    corpus (vec_id >= 10; the driver's query rows are vec_id < 10).

    The one-time index write (quantizer + corpus-wide list assignment,
    partitioned by cent_id) happens on first use and is memoized per
    session — every later probe is the write-once/probe-many path."""

    def build():
        import tempfile

        corpus = _embeddings(spark, sf_dir).where(F.col("vec_id") >= 10)
        base = tempfile.mkdtemp(prefix="pprl_ivf_idx_")
        ANN.write_ivf_index(corpus, base, n_centroids=16)
        return ANN.read_ivf_index(spark, base)

    return _memoized((_skey(spark), sf_dir, "ivf_index"), build)


def _mutual_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutually-best matches (rank 1 both directions) over the pair table.

    Memoized + materialized: the match query, the SCM training alignment
    and ``entry`` all consume it — one ranking pass per session."""

    def build():
        # rank-1-both-ways via mutual_best_match's two ranking windows
        # (desc sim, asc partner id); a two-party single round reads the
        # memoized pair checkpoint once and takes no boundary of its own
        from pprl_spark.operators.matching import mutual_best_match

        pairs = _scored_pairs(spark, sf_dir).select("id1", "id2", "sim")
        return mutual_best_match(pairs).localCheckpoint()

    return _memoized((_skey(spark), sf_dir, "mutual_best"), build)


# next to this file, so a run from another checkout writes its own copy
FIXTURES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
SCM_FIXTURE = f"{FIXTURES_DIR}/scm_sf001.parquet"  # sf0.01 — the committed one


def _scm_fixture_path(sf_dir: str) -> str:
    """Per-sf dump path: only the sf0.01 dump is committed (the driver's
    correctness scale); other scales (bench at sf0.1) write their own file
    so they never clobber the committed fixture the oracle reads."""
    base = sf_dir.rstrip("/").rsplit("/", 1)[-1]  # e.g. "sf0.01"
    return SCM_FIXTURE if base == "sf0.01" else f"{FIXTURES_DIR}/scm_{base}.parquet"


def _sync_scm_fixture(A, sf_dir: str) -> None:
    """Persist the trained SCM as sparse triples iff it changed.

    The oracle SQL reproduces the quadratic form from this dump; training
    is deterministic (seeded shuffles, eigh on fixed input), so the
    committed fixture normally matches byte-for-byte and no write happens.
    """
    import numpy as np

    from pprl_spark.operators.scm import load_scm, save_scm

    path = _scm_fixture_path(sf_dir)
    os.makedirs(FIXTURES_DIR, exist_ok=True)
    if os.path.exists(path):
        try:
            if np.array_equal(load_scm(path, A.shape[0]), A):
                return
        except Exception:
            pass
    save_scm(A, path)


FS_FIXTURE = f"{FIXTURES_DIR}/fs_sf001.parquet"  # sf0.01 — the committed one


def _fs_fixture_path(sf_dir: str) -> str:
    base = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return FS_FIXTURE if base == "sf0.01" else f"{FIXTURES_DIR}/fs_{base}.parquet"


def _sync_fs_fixture(params: dict, sf_dir: str) -> None:
    """Persist EM-trained F-S micro-ban weights iff they changed.

    The oracle SQL recomputes pair scores FROM this dump (the scoring
    math is checked, not just reproduced — same contract as the SCM
    fixture). EM is deterministic (fixed init/iters, sorted pattern
    table), so the committed fixture normally matches byte-for-byte.
    """
    import pandas as pd

    rows = pd.DataFrame(
        {
            "field": params["fields"],
            "agree_w": [int(a) for a, _ in params["weights_u"]],
            "disagree_w": [int(d) for _, d in params["weights_u"]],
        }
    )
    path = _fs_fixture_path(sf_dir)
    os.makedirs(FIXTURES_DIR, exist_ok=True)
    if os.path.exists(path):
        try:
            if pd.read_parquet(path).equals(rows):
                return
        except Exception:
            pass
    rows.to_parquet(path, index=False)


# ---------------------------------------------------------------------------
# SQL oracle building blocks
# ---------------------------------------------------------------------------

# distinct reference-semantics bigrams of a text column (features.py:10-65)
SQL_GRAMS = r"""
SELECT doc_id,
       list_distinct(
         flatten([[t[i:i+1] FOR i IN range(1, len(t))]
                  FOR t IN ['_' || w || '_'
                            FOR w IN list_filter(
                              regexp_split_to_array(lower(text), '[\s+\-_,.]+'),
                              w -> w <> '')]])
       ) AS feats
FROM documents
"""

# SHA-256 little-endian mod — Horner fold over digest bytes (bloom_filters.py:69-79)
SQL_BLOOM_IDX = (
    "list_reduce([0] || [('0x' || substring(hex, 65-2*j, 2))::BIGINT FOR j IN range(1, 33)], "
    f"(acc, b) -> (acc * 256 + b) % {BF_SIZE})"
)

SQL_BLOOM = f"""
WITH grams AS ({SQL_GRAMS}),
exploded AS (
  SELECT doc_id, unnest(feats) AS g, len(feats) AS n_feats FROM grams
),
hashed AS (
  SELECT doc_id, n_feats, sha256(g || i::VARCHAR) AS hex
  FROM exploded, (SELECT unnest(range(0, {NUM_HASHES})) AS i)
),
per_doc AS (
  SELECT doc_id,
         list_distinct(list({SQL_BLOOM_IDX})) AS bf,
         count(*) AS n_raw
  FROM hashed GROUP BY doc_id
)
"""


def _sql_minhash_key(band: int) -> str:
    coeffs = minhash_coeffs(MH_PERMS)
    parts = []
    for r in range(MH_ROWS):
        a, b = coeffs[band * MH_ROWS + r]
        parts.append(
            f"list_min([({a} * x + {b}) % {MINHASH_PRIME} FOR x IN bf])::VARCHAR"
        )
    joined = " || '-' || ".join(parts)
    return f"('mh{band}' || '-' || {joined})"


SQL_BLOCKS = (
    SQL_BLOOM
    + ", blocks AS (SELECT doc_id, bf, unnest(["
    + ", ".join(_sql_minhash_key(b) for b in range(MH_BANDS))
    + "]) AS block_key FROM per_doc)"
)

SQL_PAIRS = (
    SQL_BLOCKS
    + """
, pairs AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
         round(len(list_intersect(l.bf, r.bf))::DOUBLE
               / (sqrt(len(l.bf)) * sqrt(len(r.bf))), 6) AS sim
  FROM blocks l JOIN blocks r USING (block_key)
  WHERE l.doc_id < r.doc_id
)
"""
)


# ---------------------------------------------------------------------------
# the contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: blocked + scored + mutually-best-matched near-dup linkage
    over the sf0.001 documents table (the full PPRL dataflow minus the
    parties split: tokenize -> Bloom-embed -> LSH block -> score -> match).
    """
    return _mutual_best(spark, ENTRY_SF_DIR).select("id1", "id2", "sim")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def pprl_tokenize_bigrams(spark, sf_dir):
        return _grams(_docs(spark, sf_dir)).select(
            "doc_id", F.explode("feats").alias("gram")
        )

    def pprl_bloom_embed(spark, sf_dir):
        emb = _embedded(spark, sf_dir)
        return emb.select("doc_id", F.explode("bf_indices").alias("_i")).select(
            "doc_id", F.col("_i").cast("long").alias("bf_idx")
        )

    def pprl_bloom_stats(spark, sf_dir):
        emb = _embedded(spark, sf_dir)
        return emb.select(
            "doc_id",
            F.size("bf_indices").cast("long").alias("n_indices"),
            F.round("collision_fraction", 6).alias("collision_fraction"),
        )

    def pprl_minhash_blocks(spark, sf_dir):
        return _blocked(spark, sf_dir).select("doc_id", "block_key")

    def pprl_score_pairs(spark, sf_dir):
        return _scored_pairs(spark, sf_dir)

    def pprl_thresholds(spark, sf_dir):
        pairs = _scored_pairs(spark, sf_dir)
        both = pairs.select(F.col("id1").alias("doc_id"), "sim").unionAll(
            pairs.select(F.col("id2").alias("doc_id"), "sim")
        )
        return both.groupBy("doc_id").agg(F.round(F.max("sim"), 6).alias("thresholds"))

    def pprl_threshold_sweep(spark, sf_dir):
        # threshold calibration table over the scored candidate pairs:
        # per score bin, accepted/true counts plus cumulative
        # precision/recall for "accept this bin or higher" — the table
        # behind the reference's hand-picked abs_cutoff. Truth is the
        # exact-duplicate text partition via the same text_key
        # as dedup_eval (identical to text grouping modulo 2^-128);
        # counted C(n,2) aggregates, no pair enumeration; rides the
        # scored-pair memo.
        from pprl_spark.operators.evaluate import threshold_sweep

        pairs = _scored_pairs(spark, sf_dir)
        docs = _docs(spark, sf_dir)
        keyed = docs.select(F.col("doc_id").cast("long").alias("doc_id"), *TXT.text_key("text"))
        return threshold_sweep(pairs, keyed).select(
            "bin", "thr", "n_pairs", "n_true", "cum_pairs", "cum_true",
            "precision", "recall",
        )

    def pprl_review_pairs(spark, sf_dir):
        # deterministic clerical-review sample: 3 pairs per score bin,
        # ranked by the content-addressed sha256 hash of the pair
        # identity (salt 11) — reproducible across re-runs and
        # partitionings, value-checked as a SET by the oracle
        from pprl_spark.operators.sampling import pair_review_sample

        pairs = _scored_pairs(spark, sf_dir)
        return pair_review_sample(pairs, k_per_bin=3, salt=11).select(
            "bin", "id1", "id2", "sim", "rk"
        )

    def pprl_blocking_eval(spark, sf_dir):
        # the three standard blocking metrics (reduction ratio, pairs
        # completeness, pairs quality) for the LSH banding scheme vs the
        # exact-duplicate truth partition — the one-row report that
        # decides whether a blocking key is usable. Counted aggregates
        # only; rides the scored-pair memo and the dedup_eval truth key.
        from pprl_spark.operators.evaluate import blocking_eval

        pairs = _scored_pairs(spark, sf_dir)
        docs = _docs(spark, sf_dir)
        keyed = docs.select(F.col("doc_id").cast("long").alias("doc_id"), *TXT.text_key("text"))
        return blocking_eval(pairs, keyed)

    def pprl_mutual_best_match(spark, sf_dir):
        return _mutual_best(spark, sf_dir)

    def pprl_scm_scored(spark, sf_dir):
        # trained-SCM (soft cosine) scoring end-to-end: train on the
        # mutually-best matched pairs (seeded — the reference trains on
        # known matches, embedder.py:568-645), dump the sparse matrix for
        # the oracle, score the same pairs with the trained quadratic form
        import numpy as np

        from pprl_spark.config import EmbedderConfig
        from pprl_spark.operators.scm import soft_cosine_pairs_native, train_scm

        emb = _embedded(spark, sf_dir)
        ia = emb.select(F.col("doc_id").alias("id1"), F.col("bf_indices").alias("bf_indices_1"))
        ib = emb.select(F.col("doc_id").alias("id2"), F.col("bf_indices").alias("bf_indices_2"))
        m = _mutual_best(spark, sf_dir).select("id1", "id2")
        aligned = m.join(ia, "id1").join(ib, "id2").localCheckpoint()
        trained = train_scm(
            aligned.select("bf_indices_1", "bf_indices_2"),
            EmbedderConfig(bf_size=BF_SIZE, num_hashes=NUM_HASHES),
            seed=42,
        )
        A = trained["scm"].astype(np.float64)
        _sync_scm_fixture(A, sf_dir)
        # score a deterministic 1/37 sample of the candidate pairs (the
        # corpus is near-dup-dense: 81k of 81.6k pairs clear sim>=0.5, and
        # the SQL oracle's quadratic form costs |pairs|·|bf|² — sampling
        # keeps it tractable while covering the whole sim spectrum); the
        # arithmetic predicate is reproduced exactly in the oracle
        cand = (
            _scored_pairs(spark, sf_dir)
            .where(F.col("sim") >= 0.5)
            .where((F.col("id1") * 1000003 + F.col("id2")) % 37 == 0)
            .select("id1", "id2")
        )
        # Python per DOC (projection vectors), JVM gather per PAIR
        out = soft_cosine_pairs_native(cand, emb, emb, A, out_col="scm_sim")
        return out.select(
            F.col("id1").cast("long").alias("id1"),
            F.col("id2").cast("long").alias("id2"),
            F.round("scm_sim", 6).alias("scm_sim"),
        )

    def pprl_assignment(spark, sf_dir):
        # exact per-block Hungarian assignment (reference embedder.py:280-284
        # semantics, blocked); sim >= 0.5 keeps the dense per-block matrices
        # small — the realistic shape: assignment runs on plausible pairs
        from pprl_spark.operators.matching import assignment_match_in_blocks

        blocks = _blocked(spark, sf_dir)
        left = blocks.select(
            F.col("doc_id").cast("string").alias("id1"), F.col("bf_indices").alias("bf1"), "block_key"
        )
        right = blocks.select(
            F.col("doc_id").cast("string").alias("id2"), F.col("bf_indices").alias("bf2"), "block_key"
        )
        pairs = (
            left.join(right, "block_key")
            .where(F.col("id1").cast("long") < F.col("id2").cast("long"))
            .withColumn(
                "sim",
                F.size(F.array_intersect("bf1", "bf2")).cast("double")
                / (F.sqrt(F.size("bf1")) * F.sqrt(F.size("bf2"))),
            )
            .where(F.col("sim") >= 0.5)
            .select("id1", "id2", "block_key", "sim")
            .dropDuplicates(["id1", "id2", "block_key"])
        )
        # self-linkage (id1 < id2 within one table): conflict resolution
        # must treat the two id columns as one namespace for the global
        # one-to-one guarantee to hold
        out = assignment_match_in_blocks(pairs, self_linkage=True)
        return out.select(
            F.col("id1").cast("long").alias("id1"),
            F.col("id2").cast("long").alias("id2"),
            F.round("sim", 6).alias("sim"),
        )

    def pprl_clusters(spark, sf_dir):
        pairs = _scored_pairs(spark, sf_dir).where(F.col("sim") >= 0.8)
        cc = connected_components(pairs)
        return cc.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("entity_id").cast("long").alias("entity_id"),
        )

    def pprl_skipgrams(spark, sf_dir):
        # skip 2-grams token[i]+token[i+2] of wrapped tokens (features.py:68-95)
        docs = _docs(spark, sf_dir)
        toks = F.filter(
            F.split(F.lower("text"), r"[\s+\-_,.]+"), lambda w: w != F.lit("")
        )
        wrapped = F.transform(toks, lambda w: F.concat(F.lit("_"), w, F.lit("_")))
        skips = F.flatten(
            F.transform(
                wrapped,
                lambda tok: F.transform(
                    F.sequence(F.lit(1), F.length(tok) - F.lit(2)),
                    lambda i: F.concat(tok.substr(i, F.lit(1)), tok.substr(i + 2, F.lit(1))),
                ),
            )
        )
        return docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(F.array_distinct(skips)).alias("gram"),
        )

    def pprl_metaphone(spark, sf_dir):
        # double-metaphone codes of the first 3 words (features.py:98-121);
        # no SQL equivalent exists -> rows-only check
        import pandas as pd

        docs = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.slice(F.split(F.lower("text"), r"\s+"), 1, 3).alias("words"),
        )

        def kernel(batches):
            from pprl_spark.functions.phonetic import double_metaphone

            for pdf in batches:
                out = [
                    (doc_id, c)
                    for doc_id, words in zip(pdf["doc_id"], pdf["words"])
                    for c in sorted({c for w in words for c in double_metaphone(w) if c})
                ]
                yield pd.DataFrame(out, columns=["doc_id", "code"])

        return docs.mapInPandas(kernel, "doc_id long, code string")

    def features_native(spark, sf_dir):
        # native labelled features (F7/F8/F9): sex from lang initial, dob
        # derived deterministically from doc_id, misc label from source
        from pprl_spark.functions.features import (
            dob_feature_col,
            misc_feature_col,
            sex_feature_col,
        )

        docs = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("lang"),
            F.col("source"),
            F.format_string(
                "%04d%02d%02d",
                F.lit(1950) + F.col("doc_id") % 60,
                F.lit(1) + F.col("doc_id") % 12,
                F.lit(1) + F.col("doc_id") % 28,
            ).alias("dob"),
        )
        feats = F.concat(
            sex_feature_col("lang"),
            dob_feature_col("dob"),
            misc_feature_col("source", label="src"),
        )
        return docs.select("doc_id", F.explode(feats).alias("feat"))

    def text_jaro_winkler(spark, sf_dir):
        # JW similarity between consecutive docs' first 12 words — the
        # pair scorer (operators.matching.jaro_winkler_scores) over
        # (doc_id, doc_id+1); kernel parity with DuckDB's
        # jaro_winkler_similarity (fuzz-verified)
        from pprl_spark.operators.matching import jaro_winkler_scores

        docs = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.array_join(F.slice(F.split(F.lower("text"), r"\s+"), 1, 12), " ").alias("t"),
        )
        nxt = docs.select((F.col("doc_id") - 1).alias("doc_id"), F.col("t").alias("t2"))
        out = jaro_winkler_scores(docs.join(nxt, "doc_id"), "t", "t2")
        return out.select("doc_id", _floor6(F.col("jw_sim")).alias("jw"))

    def pprl_jw_pairs(spark, sf_dir):
        # north-star pair scoring: batched Jaro-Winkler over the BLOCKED
        # candidate pairs (operators.matching.jaro_winkler_rescore) —
        # kernel is bit-parity with DuckDB's jaro_winkler_similarity
        from pprl_spark.operators.matching import jaro_winkler_rescore

        docs = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.array_join(
                F.slice(F.split(F.lower("text"), r"\s+"), 1, 12), " "
            ).alias("t12"),
        )
        # deterministic 1/7 sample (same trick as pprl_scm_scored): the
        # oracle recomputes JW per pair, and the sample covers the whole
        # sim spectrum while keeping both sides ~1M pairs
        pairs = (
            _scored_pairs(spark, sf_dir)
            .where(F.col("sim") >= 0.5)
            .where((F.col("id1") * 1000003 + F.col("id2")) % 7 == 0)
        )
        out = jaro_winkler_rescore(pairs, docs, None, "t12")
        return out.select(
            F.col("id1").cast("long").alias("id1"),
            F.col("id2").cast("long").alias("id2"),
            "sim",
            _floor6(F.col("jw_sim")).alias("jw_sim"),
        )

    def pprl_edit_pairs(spark, sf_dir):
        # edit-distance pair rescoring with the BUILT-IN (JVM,
        # whole-stage-codegen'd) levenshtein — unlike JW (mapInPandas
        # kernel) this stays entirely JVM-side; integer distances make
        # the oracle trivially exact, and the normalized similarity
        # 1 - d/maxlen divides two exact integers (one exactly-rounded
        # op). Same deterministic 1/7 pair sample as pprl_jw_pairs.
        docs = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.array_join(
                F.slice(F.split(F.lower("text"), r"\s+"), 1, 12), " "
            ).alias("t12"),
        )
        pairs = (
            _scored_pairs(spark, sf_dir)
            .where(F.col("sim") >= 0.5)
            .where((F.col("id1") * 1000003 + F.col("id2")) % 7 == 0)
        )
        d1 = docs.select(F.col("doc_id").alias("id1"), F.col("t12").alias("t1"))
        d2 = docs.select(F.col("doc_id").alias("id2"), F.col("t12").alias("t2"))
        dist = F.levenshtein("t1", "t2")
        maxlen = F.greatest(F.length("t1"), F.length("t2"))
        return (
            pairs.join(d1, "id1")
            .join(d2, "id2")
            .select(
                F.col("id1").cast("long"),
                F.col("id2").cast("long"),
                "sim",
                dist.cast("long").alias("edit_dist"),
                F.when(maxlen == 0, F.lit(1.0))
                .otherwise(
                    F.lit(1.0) - dist.cast("double") / maxlen.cast("double")
                )
                .alias("edit_sim"),
            )
        )

    def dedup_minhash(spark, sf_dir):
        out = _minhash_dedup_pairs(spark, sf_dir)
        return out.select(
            F.col("id1").cast("long"),
            F.col("id2").cast("long"),
            _floor6(F.col("jaccard")).alias("jaccard"),
        )

    def dedup_setjoin(spark, sf_dir):
        # EXACT set-similarity self-join (AllPairs/PPJoin prefix
        # filtering) over the same k=2 shingle-hash sets as
        # dedup_minhash: every pair with true Jaccard >= 0.4, not the
        # banding-probability sample — the lossless/approximate pair the
        # engine offers side by side. All pruning (prefix length, length
        # filter, positional and bitmap bounds, final threshold) is
        # integer-exact rational arithmetic, so the oracle is the naive
        # join with the identical inter*den >= num*union comparison.
        return _setjoin_pairs(spark, sf_dir).select(
            "id1",
            "id2",
            "n1",
            "n2",
            "intersection",
            _floor6(F.col("jaccard")).alias("jaccard"),
        )

    def dedup_containment(spark, sf_dir):
        # exact asymmetric containment join (quote/boilerplate shape):
        # docs with doc_id % 20 == 0 play short probes against the rest
        # as targets; |P∩T|/|P| >= 0.6 with the rational-integer
        # comparison shared with the naive oracle join. Probe prefixes
        # rank by TARGET df (a groupBy df table, hash-joined back).
        from pprl_spark.functions.text import shingle_hashes
        from pprl_spark.operators.setjoin import containment_join

        toks = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            shingle_hashes("text", k=2).alias("tokens"),
        )
        out = containment_join(
            toks.where("doc_id % 20 = 0"),
            toks.where("doc_id % 20 != 0"),
            threshold="0.6",
        )
        return out.select(
            "probe_id",
            "target_id",
            "n_probe",
            "n_target",
            "intersection",
            _floor6(F.col("containment")).alias("containment"),
        )

    def dedup_delta(spark, sf_dir):
        # write-once/probe-many DEDUP: docs with doc_id % 5 == 0 play
        # the arriving batch, the rest the standing corpus whose MinHash
        # index (shingles + band table) is built once; the probe adds
        # delta-vs-corpus and delta-vs-delta pairs only — the corpus is
        # never re-paired against itself. Same banding/threshold as
        # dedup_minhash, so the oracle is dedup_minhash's SQL filtered
        # to pairs with a delta endpoint (equivalence also pinned in
        # tests/test_setjoin.py).
        from pprl_spark.operators.dedup import delta_near_duplicates, minhash_index

        docs = _docs(spark, sf_dir)
        corpus = docs.where("doc_id % 5 != 0")
        delta = docs.where("doc_id % 5 = 0")
        idx = minhash_index(corpus, k=2, bands=4, rows_per_band=2)
        out = delta_near_duplicates(
            idx, delta, k=2, threshold=0.4, bands=4, rows_per_band=2
        )
        return out.select(
            F.col("id1").cast("long"),
            F.col("id2").cast("long"),
            _floor6(F.col("jaccard")).alias("jaccard"),
        )

    def dedup_simhash(spark, sf_dir):
        from pprl_spark.operators.dedup import simhash_col

        return _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            simhash_col("text", bits=32, k=2).alias("simhash"),
        )

    def dedup_ngram_jaccard(spark, sf_dir):
        # n-gram Jaccard is the exact verify of the MinHash path (default
        # 8x2 banding)
        from pprl_spark.operators.dedup import minhash_near_duplicates

        out = minhash_near_duplicates(_docs(spark, sf_dir), k=2, threshold=0.2)
        return out.select(
            F.col("id1").cast("long"),
            F.col("id2").cast("long"),
            _floor6(F.col("jaccard")).alias("jaccard"),
        )

    def dedup_embedding(spark, sf_dir):
        from pprl_spark.operators.dedup import embedding_near_duplicates

        out = embedding_near_duplicates(
            _embeddings(spark, sf_dir), dim=64, threshold=0.4, n_planes=8
        )
        return out.select(
            F.col("id1").cast("long"),
            F.col("id2").cast("long"),
            F.round("cos", 6).alias("cos"),
        )

    def dedup_split(spark, sf_dir):
        # leakage-free train/valid/test split: the split key is the
        # near-dup ENTITY (cc canonical id, singletons = own id), so
        # every member of a duplicate group lands in the same split —
        # the contamination channel doc-hash splits leave open. 80/10/10
        # at salt 5; one codegen'd CASE, no shuffle beyond cc itself.
        from pprl_spark.operators.cluster import connected_components
        from pprl_spark.operators.sampling import entity_consistent_split

        pairs = _minhash_dedup_pairs(spark, sf_dir)
        cc = connected_components(pairs.select("id1", "id2"))
        docs = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id")
        )
        asg = docs.join(
            cc.select("doc_id", "entity_id"), "doc_id", "left"
        ).select(
            "doc_id",
            F.coalesce("entity_id", "doc_id").cast("long").alias("entity_id"),
        )
        return entity_consistent_split(
            asg, [("train", 0.8), ("valid", 0.1), ("test", 0.1)], salt=5
        ).select("doc_id", "entity_id", "split")

    def dedup_canonical_pr(spark, sf_dir):
        # authority-based canonical selection: per near-dup entity, the
        # survivor is the member with the highest fixed-point PageRank
        # (most corroborated by independent near-matches) — the graph
        # counterpart of dedup_canonical's quality-score pick. Integer
        # pr_u makes the argmax engine-exact; rides the pair memo.
        from pprl_spark.operators.cluster import connected_components, pagerank
        from pyspark.sql import Window

        pairs = _minhash_dedup_pairs(spark, sf_dir)
        cc = connected_components(pairs.select("id1", "id2"))
        pr = pagerank(pairs.select("id1", "id2"), iterations=5)
        j = cc.join(pr.select("doc_id", "pr_u"), "doc_id")
        w = Window.partitionBy("entity_id").orderBy(
            F.desc("pr_u"), F.asc("doc_id")
        )
        return (
            j.withColumn("_r", F.row_number().over(w))
            .withColumn(
                "n_members",
                F.count("*").over(Window.partitionBy("entity_id")).cast("long"),
            )
            .where(F.col("_r") == 1)
            .select(
                F.col("entity_id").cast("long").alias("entity_id"),
                F.col("doc_id").cast("long").alias("canonical_id"),
                "n_members",
                "pr_u",
            )
        )

    def dedup_snm_pairs(spark, sf_dir):
        # classic sorted-neighborhood (merge/purge) blocking over the
        # documents table: global (first-two-words | padded-id) order
        # computed DISTRIBUTED via the zipWithIndex rank (no
        # single-partition window), w=4 neighborhood as a rank
        # equi-join — the n·(w-1) pair budget that key-equality
        # blocking cannot offer
        from pprl_spark.operators.blocking import snm_window_pairs

        docs = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.array_join(F.slice(TXT.words_col("text"), 1, 2), " ").alias("k2"),
        )
        return snm_window_pairs(docs, "k2", w=4)

    def dedup_recall_report(spark, sf_dir):
        # measured LSH recall, on the record as a query: the banded
        # MinHash pair set (4x2 banding, exact-Jaccard verified) counted
        # against the lossless AllPairs/PPJoin ground truth over the
        # SAME k=2 shingle sets. n_hit == n_banded is the verify-step
        # invariant (banded pairs are true pairs); recall = the banding
        # S-curve's measured miss rate at J >= 0.4.
        banded = _minhash_dedup_pairs(spark, sf_dir).select("id1", "id2")
        exact = _setjoin_pairs(spark, sf_dir).select("id1", "id2")
        e = exact.agg(F.count("*").cast("long").alias("n_exact"))
        bd = banded.agg(F.count("*").cast("long").alias("n_banded"))
        h = banded.join(exact, ["id1", "id2"]).agg(
            F.count("*").cast("long").alias("n_hit")
        )
        return (
            e.join(bd)
            .join(h)
            .select(
                "n_exact",
                "n_banded",
                "n_hit",
                (F.col("n_exact") - F.col("n_hit")).cast("long").alias("n_missed"),
                F.when(
                    F.col("n_exact") > 0,
                    F.col("n_hit").cast("double") / F.col("n_exact").cast("double"),
                )
                .otherwise(F.lit(1.0))
                .alias("recall"),
            )
        )

    def dedup_semantic(spark, sf_dir):
        # SemDeDup (cluster-bounded quadratic cosine): deterministic
        # 16-centroid quantizer, within-cluster pairwise check at the
        # same 0.4 threshold as the LSH variant — the two recall shapes
        # of embedding dedup side by side
        from pprl_spark.operators.dedup import semantic_duplicates

        out = semantic_duplicates(
            _embeddings(spark, sf_dir), threshold=0.4, n_centroids=16
        )
        # -1 sentinel: the compare harness sorts row tuples in Python,
        # which cannot order NULLs
        return out.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("cent_id").cast("long").alias("cent_id"),
            F.coalesce(F.col("dup_of"), F.lit(-1)).cast("long").alias("dup_of"),
            "is_dup",
        )

    def dedup_clusters(spark, sf_dir):
        # canonical-ID assignment for a dedup pipeline: connected
        # components over the MinHash near-dup pair graph (same params as
        # dedup_minhash) — each doc gets entity_id = min doc_id of its
        # component; singleton docs are not emitted (no edges)
        from pprl_spark.operators.cluster import connected_components

        pairs = _minhash_dedup_pairs(spark, sf_dir)
        cc = connected_components(pairs.select("id1", "id2"))
        return cc.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("entity_id").cast("long").alias("entity_id"),
        )

    def delta_clusters(spark, sf_dir):
        # incremental cluster maintenance: docs with doc_id % 5 == 0 play
        # the arrival batch — the standing assignment is CC over pairs
        # among the rest, then operators.cluster.incremental_cc folds the
        # delta-touching pairs in by contracting them through the
        # assignment (CC runs only on the touched-cluster graph, never
        # the corpus). The oracle is the FULL-graph recompute
        # (dedup_clusters_sql verbatim), so the value-exact compare IS
        # the proof that incremental maintenance equals re-clustering.
        from pprl_spark.operators.cluster import connected_components, incremental_cc

        pairs = _minhash_dedup_pairs(spark, sf_dir).select("id1", "id2")
        in_delta1 = F.col("id1") % 5 == 0
        in_delta2 = F.col("id2") % 5 == 0
        base = pairs.where(~in_delta1 & ~in_delta2)
        delta = pairs.where(in_delta1 | in_delta2)
        assignment = connected_components(base)
        out = incremental_cc(assignment, delta)
        return out.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("entity_id").cast("long").alias("entity_id"),
        )

    def dedup_cluster_sizes(spark, sf_dir):
        # entity-resolution observability: the cluster-size histogram
        # (how many entities of each size) — the first thing an operator
        # checks for blocking-key blowups or over-merging. Two map-side
        # combined aggs over (doc_id, entity_id); at 10^12 docs the
        # second agg's key space is ~log-scale distinct sizes.
        from pprl_spark.operators.cluster import connected_components

        pairs = _minhash_dedup_pairs(spark, sf_dir)
        cc = connected_components(pairs.select("id1", "id2"))
        return (
            cc.groupBy("entity_id")
            .agg(F.count("*").alias("cluster_size"))
            .groupBy("cluster_size")
            .agg(F.count("*").alias("n_clusters"))
            .select(
                F.col("cluster_size").cast("long").alias("cluster_size"),
                F.col("n_clusters").cast("long").alias("n_clusters"),
            )
        )

    def text_bigram_lm(spark, sf_dir):
        # bigram-LM cross-entropy scoring: per-doc mean conditional
        # surprisal -ln p(w_i | w_{i-1}) in integer micro-nats, the
        # order-2 upgrade of text_surprisal (sensitive to word ORDER,
        # which the unigram mean cannot see). Context totals come from
        # a window over the bigram table itself — no second corpus
        # scan; the vocab joins back broadcast. Same ln()/floor parity
        # contract as the unigram oracle.
        from pprl_spark.operators.corpus import bigram_scores, bigram_surprisals

        docs = _docs(spark, sf_dir)
        vocab = bigram_surprisals(docs)
        return bigram_scores(docs, vocab).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.col("sum_b").cast("long").alias("sum_b"),
            F.col("mean_b").cast("long").alias("mean_b"),
        )

    def vocab_pmi(spark, sf_dir):
        # collocation extraction: top-50 bigrams by pointwise mutual
        # information (micro-nat integer), marginals from windows over
        # the bigram-type table (no second corpus scan), N broadcast as
        # a 1-row agg, min_count=3 hapax guard, deterministic
        # (pmi desc, bigram) total order -> TakeOrderedAndProject.
        from pprl_spark.operators.corpus import pmi_collocations

        return pmi_collocations(_docs(spark, sf_dir), min_count=3, k=50).select(
            "bigram",
            F.col("cnt").cast("long").alias("cnt"),
            "c_left",
            "c_right",
            F.col("pmi_u").cast("long").alias("pmi_u"),
        )

    def events_funnel(spark, sf_dir):
        # ordered funnel view -> click -> purchase with 1-hour step
        # bounds: no event-pair self-join — one min-agg plus one keyed
        # left-join + conditional min per later step, all reusing the
        # user_id hash partitioning. Native interval arithmetic is
        # microsecond-exact in both engines.
        from pprl_spark.operators.events import funnel_steps

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        # not-reached stages surface as the epoch sentinel rather than
        # NULL: None vs NaT null-timestamp representations diverge
        # between engines in the value compare (same convention as the
        # as-of oracle); `stage` still carries the semantics
        sent = F.lit("1970-01-01 00:00:00").cast("timestamp")
        return funnel_steps(ev, ["view", "click", "purchase"], within="1 hour").select(
            F.col("user_id").cast("long").alias("user_id"),
            "t_1",
            F.coalesce("t_2", sent).alias("t_2"),
            F.coalesce("t_3", sent).alias("t_3"),
            "stage",
        )

    def events_cohorts(spark, sf_dir):
        # weekly cohort-retention matrix: first-activity cohorts x
        # week offsets, count-distinct users per cell; ISO-week
        # date_trunc + integer day-diff DIV 7 are engine-exact.
        from pprl_spark.operators.events import cohort_retention

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return cohort_retention(ev).select(
            "cohort_week",
            "week_offset",
            F.col("n_users").cast("long").alias("n_users"),
        )

    def pprl_soundex(spark, sf_dir):
        # American Soundex blocking codes of the first 3 words — the
        # third phonetic key next to double metaphone (Python kernel)
        # and the pure-SQL twin proves the H/W-transparency fold is
        # engine-exact (classic vectors pinned in tests/test_soundex.py)
        from pprl_spark.functions.phonetic import soundex_col

        docs = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.posexplode(F.slice(TXT.words_col("text"), 1, 3)).alias("pos", "word"),
        )
        return docs.select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            soundex_col(F.col("word")).alias("sx"),
        )

    def layout_zorder(spark, sf_dir):
        # Morton (Z-order) layout key over (doc_id, n_chars): the
        # multi-dimension clustering key Delta/Iceberg OPTIMIZE ZORDER
        # computes, as a plain codegen'd OR-chain of shift/mask terms.
        # Sorting files by it gives row-group min/max locality on BOTH
        # columns (see sources.write_partitioned + functions/layout.py).
        from pprl_spark.functions.layout import zorder_key

        return _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_chars").cast("long").alias("n_chars"),
            zorder_key("doc_id", "n_chars", bits=16).alias("zkey"),
        )

    def corpus_histogram(spark, sf_dir):
        # equi-width doc-length histogram with integer-exact bucketing
        # over data-derived bounds (broadcast 1-row min/max agg) — the
        # skew-observability report for any numeric column.
        from pprl_spark.operators.corpus import equiwidth_histogram

        return equiwidth_histogram(_docs(spark, sf_dir), "n_chars", n_buckets=16)

    def corpus_profile(spark, sf_dir):
        # ANALYZE-style per-column profile of the documents table: one
        # scan (multi-distinct via Spark's Expand rewrite), 1-row agg
        # pivoted to per-column rows with an inline explode — the
        # null-rate / distinct-count / min-max report that decides
        # scrub rules, broadcast-vs-shuffle and partition pruning
        # before any 100 TB job launches.
        from pprl_spark.operators.corpus import profile_columns

        return profile_columns(
            _docs(spark, sf_dir), ["doc_id", "text", "lang", "source", "n_chars"]
        )

    def dedup_cluster_density(spark, sf_dir):
        # per-entity edge density = n_edges / C(n,2): 1.0 = clique
        # (true duplicate group), ->0 = chain (transitive over-merge).
        # Every near-dup pair lies inside its own component by
        # construction, so edges-per-entity is one groupBy on the
        # assignment join; density is a single exact division.
        from pprl_spark.operators.cluster import connected_components

        pairs = _minhash_dedup_pairs(spark, sf_dir)
        cc = connected_components(pairs.select("id1", "id2"))
        sizes = cc.groupBy("entity_id").agg(F.count("*").cast("long").alias("n_members"))
        edges = (
            pairs.join(
                cc.select(F.col("doc_id").alias("id1"), "entity_id"), "id1"
            )
            .groupBy("entity_id")
            .agg(F.count("*").cast("long").alias("n_edges"))
        )
        c2 = F.shiftright(
            (F.col("n_members") * (F.col("n_members") - F.lit(1))).cast("long"), 1
        )
        return sizes.join(edges, "entity_id").select(
            F.col("entity_id").cast("long").alias("entity_id"),
            "n_members",
            "n_edges",
            (F.col("n_edges").cast("double") / c2.cast("double")).alias("density"),
        )

    def dedup_source_matrix(spark, sf_dir):
        # cross-source duplication matrix: near-dup pair counts per
        # (source, source) — which feeds are copying which. Slim
        # (id -> source) dim joins onto the pair memo; canonical
        # (least, greatest) ordering folds the symmetric cells.
        pairs = _minhash_dedup_pairs(spark, sf_dir)
        src = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"), "source"
        )
        j = (
            pairs.select(F.col("id1").cast("long"), F.col("id2").cast("long"))
            .join(src.select(F.col("doc_id").alias("id1"), F.col("source").alias("_s1")), "id1")
            .join(src.select(F.col("doc_id").alias("id2"), F.col("source").alias("_s2")), "id2")
        )
        return (
            j.select(
                F.least("_s1", "_s2").alias("source_a"),
                F.greatest("_s1", "_s2").alias("source_b"),
            )
            .groupBy("source_a", "source_b")
            .agg(F.count("*").cast("long").alias("n_pairs"))
        )

    def graph_triangles(spark, sf_dir):
        # per-node triangle counts over the MinHash near-dup graph:
        # the structural cluster-quality signal (tight clique vs chain
        # of borderline matches). Degree-ordered orientation bounds
        # wedge fan-out by the LOW-degree endpoint; rides the shared
        # pair memo like dedup_clusters.
        from pprl_spark.operators.cluster import triangle_counts

        pairs = _minhash_dedup_pairs(spark, sf_dir)
        return triangle_counts(pairs.select("id1", "id2")).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
        )

    def graph_pagerank(spark, sf_dir):
        # deterministic fixed-point PageRank over the near-dup graph:
        # in-cluster authority picks the canonical survivor, corpus-wide
        # hubs surface boilerplate attractors. Integer arithmetic end to
        # end (units of 1e-12), so the BIGINTs are engine- and
        # partitioning-independent; rides the shared pair memo.
        from pprl_spark.operators.cluster import pagerank

        pairs = _minhash_dedup_pairs(spark, sf_dir)
        return pagerank(pairs.select("id1", "id2"), iterations=5).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "deg",
            "pr_u",
            "pr",
        )

    def dedup_eval(spark, sf_dir):
        # pairwise clustering evaluation WITHOUT pair enumeration: P/R/F1
        # of the MinHash near-dup clusters against the exact-duplicate
        # partition, computed from three counted aggregates over the
        # (pred, truth) contingency table — sum C(n,2) per cell / per
        # marginal. No pair is ever materialized, so the same report
        # runs at 10^12 docs (a truth cluster of 10^9 contributes one
        # BIGINT, not 10^18 rows). Each metric is ONE exactly-rounded
        # int->double division, so the doubles hash-match the oracle.
        from pprl_spark.operators.cluster import connected_components
        from pprl_spark.operators.evaluate import pairwise_cluster_eval

        pairs = _minhash_dedup_pairs(spark, sf_dir)
        cc = connected_components(pairs.select("id1", "id2"))
        docs = _docs(spark, sf_dir)
        keyed = docs.select(F.col("doc_id").cast("long").alias("doc_id"), *TXT.text_key("text"))
        truth = keyed.groupBy("fp1", "fp2").agg(F.min("doc_id").alias("truth_id"))
        assign = (
            keyed.join(truth, ["fp1", "fp2"])
            .join(
                cc.select("doc_id", F.col("entity_id").alias("_cc")), "doc_id", "left"
            )
            .select(
                F.coalesce(F.col("_cc"), F.col("doc_id"))
                .cast("long")
                .alias("entity_id"),
                F.col("truth_id").cast("long").alias("truth_id"),
            )
        )
        return pairwise_cluster_eval(assign)

    def spans_exact_dedup(spark, sf_dir):
        # exact dedup over the input_hint INTERLEAVED shape: flat docs
        # lift to text spans (lang/source/n_chars), plus one media span
        # derived from content (kind=image, text=null,
        # media_ref=img://(n_chars%7)) so the serializer's media_ref and
        # null-text paths are exercised; duplicates are docs whose whole
        # span SEQUENCE agrees on (kind, text, media_ref, order). The
        # US/RS-separated serialization is injective in (lang, source,
        # n_chars) — the media span is a function of n_chars — so the
        # oracle groups by the raw triple instead of rebuilding strings.
        from pprl_spark.operators.dedup import exact_duplicate_spans
        from pprl_spark.sources.tables import lift_flat_records

        docs = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
        lifted = lift_flat_records(
            docs, "doc_id", ["lang", "source", "n_chars"], keep=["n_chars"]
        )
        media_span = F.struct(
            F.lit("image").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.concat(F.lit("img://"), (F.col("n_chars") % 7).cast("string")).alias(
                "media_ref"
            ),
            F.lit(3).alias("offset"),
        )
        interleaved = lifted.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.concat("spans", F.array(media_span)).alias("spans"),
        )
        out = exact_duplicate_spans(interleaved)
        return out.select(
            "doc_id",
            F.col("canonical_id").cast("long").alias("canonical_id"),
            F.col("n_copies").cast("long").alias("n_copies"),
        )

    def spans_cross_media(spark, sf_dir):
        # re-hosted-document detector over the interleaved shape: text
        # spans lift from (lang, n_chars), one media span derives from
        # source (img://<source>) — so docs sharing (lang, n_chars) but
        # split across sources model "same article, re-hosted media".
        # The lifted text serialization is injective in (lang, n_chars)
        # and the media ref in source, so the oracle groups by the raw
        # fields instead of rebuilding serializations.
        from pprl_spark.operators.dedup import cross_media_duplicates
        from pprl_spark.sources.tables import lift_flat_records

        docs = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
        lifted = lift_flat_records(docs, "doc_id", ["lang", "n_chars"], keep=["source"])
        media_span = F.struct(
            F.lit("image").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.concat(F.lit("img://"), F.col("source")).alias("media_ref"),
            F.lit(2).alias("offset"),
        )
        interleaved = lifted.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.concat("spans", F.array(media_span)).alias("spans"),
        )
        out = cross_media_duplicates(interleaved)
        return out.select(
            "doc_id",
            F.col("text_canonical_id").cast("long").alias("text_canonical_id"),
            F.col("n_text_copies").cast("long").alias("n_text_copies"),
            F.col("n_media_variants").cast("long").alias("n_media_variants"),
        )

    def text_quality_trim(spark, sf_dir):
        # corpus-calibrated quality cutoff: drop the bottom decile by
        # quality_score, threshold = exact type-7 percentile over the
        # corpus (1-row aggregate broadcast back, lazy). The oracle
        # recomputes the identical quality doubles and quantile_cont
        # threshold, so the KEPT SET is value-checked at full precision.
        from pprl_spark.operators.corpus import quality_trim

        docs = _docs(spark, sf_dir)
        out = quality_trim(docs, TXT.quality_score("text"), frac=0.1)
        return out.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            _floor6(TXT.quality_score("text")).alias("quality"),
        )

    def sample_token_budget(spark, sf_dir):
        # training-mixture sampling to an expected per-language token
        # budget: one tiny per-stratum token-total agg -> exact integer
        # rate_ppm on the driver -> the same content-addressed hash
        # filter as sample_stratified (deterministic membership, zero
        # shuffle). Budgets: en 3000 tok, zh 5000 (under budget -> keep
        # all), every other language 2000; salt 7. The oracle recomputes
        # the identical HUGEINT floor-division rates and sha256 hash, so
        # the kept SET is value-checked, not just its size.
        from pprl_spark.operators.sampling import token_budget_sample

        docs = _docs(spark, sf_dir).withColumn("_nt", TXT.token_count("text"))
        out = token_budget_sample(
            docs, "lang", {"en": 3000, "zh": 5000}, "_nt", default_budget=2000, salt=7
        )
        return out.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")

    def text_quality_filters(spark, sf_dir):
        # Gopher-style per-row quality-filter metrics (repetition ratio,
        # symbol ratio, max word length, alpha-word ratio) + the keep
        # decision — all array-expression scan columns, no explode, no
        # shuffle. keep thresholds chosen to split this corpus
        # non-trivially (rep spans 0.05-0.3, mwl 5-8); symbol/alpha are
        # degenerate on the synthetic corpus (0/1) and get their
        # non-trivial coverage from handcrafted texts in pytest.
        docs = _docs(spark, sf_dir)
        rep = TXT.repetition_ratio("text")
        sym = TXT.symbol_ratio("text")
        mwl = TXT.max_word_len("text")
        alpha = TXT.alpha_word_ratio("text")
        keep = (rep <= 0.12) & (mwl <= 7)
        return docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            _floor6(rep).alias("rep_ratio"),
            _floor6(sym).alias("sym_ratio"),
            mwl.alias("max_word_len"),
            _floor6(alpha).alias("alpha_ratio"),
            keep.cast("long").alias("keep"),
        )

    def spans_roundtrip(spark, sf_dir):
        # input_hint per-row invariant, oracle-pinned: lifting a flat
        # record into the spans shape (sources.tables.lift_flat_records)
        # must preserve span-sequence (kind, text, media_ref, order) —
        # the offset column IS the order, so the value-exact compare of
        # (doc_id, offset, kind, text, media_ref) rows checks sequence
        # equality even though the driver's hash is order-insensitive.
        from pprl_spark.sources.tables import lift_flat_records

        docs = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
        lifted = lift_flat_records(docs, "doc_id", ["lang", "source", "n_chars"])
        out = lifted.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode("spans").alias("s"),
        )
        return out.select(
            "doc_id",
            F.col("s.offset").cast("long").alias("offset"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
        )

    def _interleaved_docs(spark, sf_dir):
        # realistic interleaved synth from the flat documents table:
        # 8-token text segments (offset 2i) with an image span after
        # every odd-indexed segment (offset 2i+1, ref derived from
        # doc_id/i) — deterministic, so the oracle rebuilds the same
        # span sequence from documents.text with list slicing
        docs = _docs(spark, sf_dir)
        w = TXT.words_col("text")
        base = (
            docs.select(
                F.col("doc_id").cast("long").alias("doc_id"), w.alias("_w")
            )
            .where(F.size("_w") > 0)
            .select(
                "doc_id",
                "_w",
                F.floor((F.size("_w") + 7) / 8).cast("int").alias("_nseg"),
            )
        )
        seg = F.transform(
            F.sequence(F.lit(0), F.col("_nseg") - 1),
            lambda i: F.struct(
                F.lit("text").alias("kind"),
                F.array_join(F.slice("_w", i * 8 + 1, 8), " ").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                (i * 2).cast("int").alias("offset"),
            ),
        )
        media = F.transform(
            F.filter(
                F.sequence(F.lit(0), F.col("_nseg") - 1), lambda i: i % 2 == 1
            ),
            lambda i: F.struct(
                F.lit("image").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.concat_ws("/", F.lit("img:/"), F.col("doc_id"), i).alias(
                    "media_ref"
                ),
                (i * 2 + 1).cast("int").alias("offset"),
            ),
        )
        # deliberately unsorted concat: the operators' offset sort is
        # part of the contract under test
        return base.select("doc_id", F.concat(seg, media).alias("spans"))

    def spans_chunked(spark, sf_dir):
        # greedy span-atomic sequence packing over the interleaved
        # shape: budget 24, media cost 16 — the multimodal pack step
        # (atomic media spans, history-dependent fold, zero shuffle)
        from pprl_spark.operators.spans import chunk_spans

        return chunk_spans(
            _interleaved_docs(spark, sf_dir), budget=24, media_cost=16
        ).select(
            "doc_id",
            F.col("offset").cast("long").alias("offset"),
            "kind",
            F.col("cost").cast("long").alias("cost"),
            F.col("chunk_id").cast("long").alias("chunk_id"),
        )

    def spans_modality(spark, sf_dir):
        # per-doc modality composition report over the interleaved
        # shape (the image-spam / text-context curation filter input)
        from pprl_spark.operators.spans import modality_profile

        return modality_profile(_interleaved_docs(spark, sf_dir)).select(
            "doc_id",
            "n_spans",
            "n_text_spans",
            "n_media_spans",
            "n_text_tokens",
            "media_kinds",
            "text_span_share",
        )

    def spans_media_audit(spark, sf_dir):
        # media-store referential integrity over the interleaved shape:
        # the store is derived deterministically from the same synth
        # (refs with (doc+i)%3==0 are MISSING -> orphans; payload hash
        # keyed by (doc*31+i)%1000 -> some assets serve many refs ->
        # re-upload duplicates). Orphaned docs can't be rendered or
        # trained on; shared payloads are the media analog of text
        # near-dups.
        from pprl_spark.operators.spans import media_ref_audit

        inter = _interleaved_docs(spark, sf_dir)
        refs = inter.select(
            F.explode(
                F.filter(F.col("spans"), lambda s: s["kind"] != F.lit("text"))
            ).alias("_s")
        ).select(F.col("_s.media_ref").alias("media_ref"))
        parts = F.split("media_ref", "/")
        store = (
            refs.select(
                "media_ref",
                parts.getItem(2).cast("long").alias("_d"),
                parts.getItem(3).cast("long").alias("_i"),
            )
            .where((F.col("_d") + F.col("_i")) % 3 != 0)
            .select(
                "media_ref",
                F.sha2(
                    F.concat(
                        F.lit("p"),
                        ((F.col("_d") * 31 + F.col("_i")) % 1000).cast("string"),
                    ),
                    256,
                ).alias("payload_hash"),
            )
        )
        return media_ref_audit(inter, store).select(
            "doc_id", "n_media_refs", "n_orphan_refs", "n_shared_refs"
        )

    def text_chunks(spark, sf_dir):
        # overlapping token-window chunking (size 20, stride 10) — the
        # training/RAG preprocessing step; chunks are built as one array
        # expression per row and exploded after projection, so chunking
        # is a scan, not a shuffle
        docs = _docs(spark, sf_dir)
        out = docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(TXT.chunk_tokens("text", size=20, stride=10)).alias("c"),
        )
        return out.select(
            "doc_id",
            F.col("c.chunk_id").cast("long").alias("chunk_id"),
            F.col("c.n_tokens").cast("long").alias("n_tokens"),
            F.col("c.chunk_text").alias("chunk_text"),
        )

    def dedup_canonical(spark, sf_dir):
        # dedup end-cap: one surviving document per near-dup cluster —
        # highest quality_score, ties -> min doc_id; unclustered docs
        # survive as their own singleton. Composes the memoized MinHash
        # pair table, connected components and the codegen'd quality
        # expression in one scan + one window.
        from pprl_spark.operators.cluster import connected_components
        from pprl_spark.operators.dedup import canonical_documents

        pairs = _minhash_dedup_pairs(spark, sf_dir)
        cc = connected_components(pairs.select("id1", "id2"))
        out = canonical_documents(_docs(spark, sf_dir), cc)
        return out.select(
            F.col("entity_id").cast("long").alias("entity_id"),
            F.col("canonical_id").cast("long").alias("canonical_id"),
            _floor6(F.col("quality")).alias("quality"),
            F.col("n_members").cast("long").alias("n_members"),
        )

    def sample_stratified(spark, sf_dir):
        # deterministic content-addressed stratified sampling: membership
        # is a pure function of (doc_id, salt), independent of
        # partitioning — unlike df.sample, whose per-partition RNG
        # changes the kept set under repartition/AQE/resume. Rates:
        # en 20%, zh 100%, everything else 50%; salt 7. The oracle
        # recomputes the identical sha256-based hash, so the kept SET
        # (not just its size) is value-checked.
        from pprl_spark.operators.sampling import stratified_sample

        docs = _docs(spark, sf_dir)
        out = stratified_sample(
            docs,
            "lang",
            {"en": 0.2, "zh": 1.0},
            default_fraction=0.5,
            salt=7,
        )
        return out.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")

    def sample_quality_weighted(spark, sf_dir):
        # CCNet-style SOFT quality filtering: each doc survives with
        # probability = its own quality score (not a hard cutoff), via
        # the content-addressed hash (salt 13) — deterministic,
        # auditable, SQL-mirrorable where rand() Bernoulli is neither.
        from pprl_spark.operators.sampling import weighted_sample

        scored = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            TXT.quality_score("text").alias("_q"),
        )
        out = weighted_sample(scored, "_q", salt=13)
        return out.select("doc_id", _floor6(F.col("_q")).alias("quality"))

    def dedup_exact(spark, sf_dir):
        # 128-bit text_key as the grouping key: the shuffle carries 16
        # bytes per doc, never the document text. The oracle groups by
        # norm_text itself — identical output unless both independent
        # 64-bit hashes collide (~2^-128)
        docs = _docs(spark, sf_dir)
        keyed = docs.select(F.col("doc_id").cast("long").alias("doc_id"), *TXT.text_key("text"))
        canon = keyed.groupBy("fp1", "fp2").agg(
            F.min("doc_id").alias("canonical_id"), F.count("*").cast("long").alias("n_copies")
        )
        return keyed.join(canon, ["fp1", "fp2"]).select("doc_id", "canonical_id", "n_copies")

    def text_stats(spark, sf_dir):
        docs = _docs(spark, sf_dir)
        return docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            TXT.token_count("text").cast("long").alias("n_tokens"),
            TXT.distinct_token_count("text").cast("long").alias("n_distinct"),
            TXT.bpe_token_count("text").cast("long").alias("n_bpe"),
            _floor6(TXT.quality_score("text")).alias("quality"),
            TXT.fingerprint("text").alias("fp"),
            TXT.lang_id("text").alias("lang_pred"),
        )

    def vocab_topk(spark, sf_dir):
        # corpus heavy hitters: map-side-combined word count, then
        # TakeOrderedAndProject (per-partition k-row heap, no global
        # sort) under a (cnt desc, word asc) total order so the rank-100
        # cut is partitioning-independent
        from pprl_spark.operators.corpus import vocab_topk as _vtk

        return _vtk(_docs(spark, sf_dir), k=100).select(
            "word", F.col("cnt").cast("long").alias("cnt")
        )

    def text_decontaminate(spark, sf_dir):
        # test-set decontamination: docs sharing a token 3-gram with the
        # deterministic "benchmark" slice (doc_id % 97 == 0) are flagged
        # with their distinct-shared-gram count. The benchmark gram table
        # is broadcast; grams travel as SQL-reproducible rolling hashes
        # (8 bytes), so the oracle joins on identical keys and the corpus
        # side never shuffles text. Empty docs are excluded on both
        # engines (the k<n whole-text shingle of "" has no gram content).
        from pprl_spark.operators.corpus import decontaminate

        docs = _docs(spark, sf_dir).where(F.size(TXT.words_col("text")) > 0)
        bench = docs.where(F.col("doc_id") % 97 == 0)
        corpus = docs.where(F.col("doc_id") % 97 != 0)
        out = decontaminate(corpus, bench, n=3)
        return out.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_shared").cast("long").alias("n_shared"),
        )

    def text_dup_spans(spark, sf_dir):
        # exact substring-duplication mass per doc (granular dedup, the
        # Lee et al. 2022 memorization-risk pass): token 5-grams as
        # 8-byte rolling hashes, corpus occurrence count >= 2 marks the
        # window, touching windows merge into maximal spans. Grams
        # shuffle as (hash, pos) — text never moves; the frequency table
        # is map-side combined; span merging is one window over the
        # (rare) duplicated positions only.
        from pprl_spark.operators.corpus import duplicated_spans

        return duplicated_spans(_docs(spark, sf_dir), n=5)

    def text_bm25(spark, sf_dir):
        # Okapi BM25 top-10 per query for three literal queries — the
        # lexical retrieval baseline (seed-doc mining / decontamination
        # review). Integer micro-unit contributions make the per-doc
        # sum order-independent; only query-term postings leave the
        # scan; k-per-query via WindowGroupLimit.
        from pprl_spark.operators.retrieval import bm25_topk

        return bm25_topk(
            _docs(spark, sf_dir),
            {
                "ret_a": "table scan filter",
                "ret_b": "customer order stream",
                "ret_c": "hash join window",
            },
            k=10,
        ).select("query_id", "doc_id", "score_u", "rk")

    def text_blocklist(spark, sf_dir):
        # C4-style dictionary filter: per-row hit count against a literal
        # blocklist + scrubbed (normalized) text + the keep decision —
        # all codegen'd array expressions, zero shuffle, zero join
        bl = ["slow", "error", "null"]
        docs = _docs(spark, sf_dir)
        hits = TXT.blocklist_hits("text", bl)
        return docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            hits.cast("long").alias("n_hits"),
            TXT.scrub_blocklist("text", bl, "[X]").alias("scrubbed"),
            (hits == 0).cast("long").alias("keep"),
        )

    def text_tfidf(spark, sf_dir):
        # per-doc top-3 terms by log-free TF-IDF: TF per-row (array
        # expressions, no (doc,word) shuffle), DF map-side-combined,
        # IDF broadcast back, one slim window for top-n. The log-free
        # (N+1)/(df+1) IDF keeps every step exactly rounded so the
        # (score desc, word) tie-break is bit-stable across engines.
        from pprl_spark.operators.corpus import tfidf_top_terms

        out = tfidf_top_terms(_docs(spark, sf_dir), n_top=3)
        return out.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "word",
            _floor6(F.col("score")).alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )

    def corpus_divergence(spark, sf_dir):
        # per-source unigram KL from the corpus blend: the distribution-
        # drift number behind spam/boilerplate triage and per-source
        # mixing weights. Micro-nat terms floored BEFORE the per-source
        # sum, so the aggregation is integer (order/partitioning-free).
        from pprl_spark.operators.corpus import source_divergence

        return source_divergence(_docs(spark, sf_dir), "source")

    def text_surprisal(spark, sf_dir):
        # CCNet-style LM-proxy quality scoring: corpus unigram surprisal
        # table in integer micro-nats (truncation at the small vocab
        # table makes every downstream step integer/exactly-rounded —
        # Spark and DuckDB ln() differ in the last bit on this host, so
        # double log-probs can NOT flow into sums), per-doc integer mean,
        # head/middle/tail split on the corpus' own exact tertiles.
        from pprl_spark.operators.corpus import (
            perplexity_buckets,
            surprisal_scores,
            unigram_surprisals,
        )

        docs = _docs(spark, sf_dir)
        scores = surprisal_scores(docs, unigram_surprisals(docs))
        out = perplexity_buckets(scores)
        return out.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("sum_u").cast("long").alias("sum_u"),
            F.col("mean_u").cast("long").alias("mean_u"),
            "bucket",
        )

    def events_asof(spark, sf_dir):
        # point-in-time join: for every 'view' event, the latest 'error'
        # event of the same user at-or-before it. Spark has no native
        # as-of join; the operator is the tagged-union + carry-forward
        # window composition (one exchange, one sort — never a per-key
        # range product). Oracle: DuckDB's native ASOF LEFT JOIN over a
        # right side pre-deduplicated to max(event_id) per (user, ts)
        # (the operator's documented tie rule).
        from pprl_spark.operators.events import asof_join

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        left = ev.where(F.col("event_type") == "view").select(
            "event_id", "ts", "user_id", "value"
        )
        right = ev.where(F.col("event_type") == "error").select(
            "event_id", "ts", "user_id", "value"
        )
        out = asof_join(left, right, payload_cols=("event_id", "ts", "value"))
        # no-match rows surface as typed sentinels (not nulls): the
        # driver's row comparator sorts rows and None is unorderable
        return out.select(
            F.col("event_id").cast("long"),
            F.col("user_id").cast("long"),
            "ts",
            "value",
            F.coalesce(F.col("asof_event_id"), F.lit(-1)).cast("long").alias("asof_event_id"),
            F.coalesce(
                F.col("asof_ts"), F.lit("1970-01-01 00:00:00").cast("timestamp")
            ).alias("asof_ts"),
            F.coalesce(F.col("asof_value"), F.lit(-1.0)).alias("asof_value"),
        )

    def pprl_block_stats(spark, sf_dir):
        # pre-flight blocking diagnostics: top-20 LSH blocks by size +
        # the global (entries, candidate-pairs, n_blocks) summary row —
        # the numbers that decide cap_blocks/salting before a pair join
        from pprl_spark.operators.blocking import blocking_stats

        return blocking_stats(_blocked(spark, sf_dir), k=20)

    def pprl_dice_pairs(spark, sf_dir):
        # the reference's Dice coefficient (2|A∩B|/(|A|+|B|),
        # embedder.py's similarity choice beside cosine) over the same
        # blocked candidates — same bitmap word-AND kernel, different
        # normalization; puts the candidates.py dice switch under the
        # oracle
        return _score_block_pairs(_blocked(spark, sf_dir), sim="dice")

    def pprl_suppressed_pairs(spark, sf_dir):
        # k-anonymity ENFORCEMENT (the kanon report's actionable
        # sibling): drop every sub-5 block BEFORE the pair join — no
        # party ever sees a candidate set smaller than k — then score
        # the surviving pairs through the identical bitmap kernel. The
        # privacy cost is visible as the pair-set difference vs
        # pprl_score_pairs.
        blocks = _blocked(spark, sf_dir)
        sizes = blocks.groupBy("block_key").agg(F.count("*").alias("_n"))
        kept = blocks.join(
            sizes.where(F.col("_n") >= 5).select("block_key"), "block_key"
        )
        return _score_block_pairs(kept)

    def pprl_kanon(spark, sf_dir):
        # the privacy half of blocking diagnostics: per k in (2,5,10),
        # how many LSH blocks are below k and how many docs' SMALLEST
        # block exposes them to a sub-k candidate set — the leak PPRL
        # exists to prevent; parties coarsen keys or suppress sub-k
        # blocks before exchanging. One pass per frame, per-k sums
        # stacked by an inline explode.
        from pprl_spark.operators.blocking import k_anonymity_report

        return k_anonymity_report(_blocked(spark, sf_dir))

    def events_transitions(spark, sf_dir):
        # first-order Markov transition matrix between consecutive
        # event types per user (funnel design / bot-detection input):
        # one lag window on the sessionization shuffle, counts on the
        # |types|^2 key space, row-normalized by one exact division
        from pprl_spark.operators.events import type_transitions

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return type_transitions(ev).select(
            "prev_type", "event_type", "n", "p"
        )

    def events_pivot(spark, sf_dir):
        # wide per-user activity matrix: groupBy().pivot() with an
        # EXPLICIT value list — no distinct-discovery pre-job, and the
        # pivot compiles to one map-side-combined aggregate with a CASE
        # per column (exactly the conditional-aggregation twin the
        # oracle writes out longhand). value sums are floor6-truncated
        # integers so cross-engine summation order cannot matter.
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        types = ["click", "error", "purchase", "signup", "view"]
        out = (
            ev.withColumn("v_u", F.floor(F.col("value") * F.lit(1e6)))
            .groupBy("user_id")
            .pivot("event_type", types)
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v_u").alias("v"))
        )
        cols = [F.col("user_id").cast("long").alias("user_id")]
        for t in types:
            cols.append(F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("long").alias(f"n_{t}"))
            cols.append(F.coalesce(F.col(f"{t}_v"), F.lit(0)).cast("long").alias(f"v_{t}"))
        return out.select(*cols)

    def events_range_join(spark, sf_dir):
        # interval join: every (view, error) pair of the same user within
        # +-6 hours. Bin-bucketed rewrite: the equi-join runs on
        # (user, time-bin) so fan-out is bounded by bin occupancy, never
        # the per-key product the naive range filter materializes.
        from pprl_spark.operators.events import range_join

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        l = ev.where(F.col("event_type") == "view").select(
            "event_id", "ts", "user_id", "value"
        )
        r = ev.where(F.col("event_type") == "error").select(
            "event_id", "ts", "user_id", "value"
        )
        W = 21_600_000_000  # 6h in microseconds
        out = range_join(l, r, lower_us=-W, upper_us=W)
        return out.select(
            F.col("event_id").cast("long"),
            F.col("user_id").cast("long"),
            "ts",
            F.col("r_event_id").cast("long").alias("r_event_id"),
            "r_ts",
            "r_value",
            F.col("delta_us").cast("long").alias("delta_us"),
        )

    def corpus_rollup(spark, sf_dir):
        # corpus composition report: docs/tokens/chars per (lang, source)
        # + per-lang subtotals + grand total, all grouping-set levels in
        # one map-side-combined pass (the shuffle carries group rows,
        # never the corpus)
        from pprl_spark.operators.corpus import corpus_rollup as _cr

        out = _cr(_docs(spark, sf_dir))
        return out.select(
            "lang_g",
            "source_g",
            F.col("gid").cast("long").alias("gid"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )

    def text_pii_scrub(spark, sf_dir):
        # PII redaction pass (emails / IPv4 / phone surface forms). The
        # synthetic corpus is PII-free by construction, so deterministic
        # PII is injected from doc_id arithmetic — identically in the
        # oracle — making hit counts and scrubbing non-trivial. Counting
        # and redaction are codegen'd regex expressions: zero shuffle,
        # zero join, zero Python.
        from pprl_spark.functions.text import pii_counts, scrub_pii

        d = F.col("doc_id")
        aug = _docs(spark, sf_dir).select(
            d.cast("long").alias("doc_id"),
            F.concat(
                F.col("text"),
                F.when(
                    d % 7 == 0,
                    F.concat(F.lit(" mail u"), d.cast("string"), F.lit("@ex.org")),
                ).otherwise(F.lit("")),
                F.when(
                    d % 11 == 0,
                    F.concat(
                        F.lit(" ip 10."),
                        (d % 256).cast("string"),
                        F.lit(".0."),
                        (d % 100).cast("string"),
                    ),
                ).otherwise(F.lit("")),
                F.when(
                    d % 13 == 0,
                    F.concat(
                        F.lit(" tel 555-123-"),
                        F.lpad((d % 10000).cast("string"), 4, "0"),
                    ),
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
        names = ["n_email", "n_ipv4", "n_phone"]
        return aug.select(
            "doc_id",
            *[c.cast("long").alias(n) for c, n in zip(pii_counts("text"), names)],
            scrub_pii("text").alias("scrubbed"),
        )

    def pprl_fs_scored(spark, sf_dir):
        # Fellegi-Sunter probabilistic weighting (Splink-style) over the
        # blocked candidate pairs: per-field 0/1 agreements (lang,
        # source, Bloom-sim >= 0.5, 128-char length bucket), EM over the
        # <=16-row aggregated pattern table on the driver (pairs never
        # leave the cluster), integer micro-ban weights dumped to the
        # committed fixture (the oracle re-scores FROM the dump), then a
        # literal CASE projection sums exact integer evidence per pair.
        from pprl_spark.operators.fellegi_sunter import (
            agreement_vectors,
            fs_score,
            fs_train,
        )

        attrs = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            "source",
            F.expr("n_chars div 128").alias("lb"),
        )
        pairs = (
            _scored_pairs(spark, sf_dir)
            .join(
                attrs.select(
                    F.col("doc_id").alias("id1"),
                    F.col("lang").alias("lang1"),
                    F.col("source").alias("source1"),
                    F.col("lb").alias("lb1"),
                ),
                "id1",
            )
            .join(
                attrs.select(
                    F.col("doc_id").alias("id2"),
                    F.col("lang").alias("lang2"),
                    F.col("source").alias("source2"),
                    F.col("lb").alias("lb2"),
                ),
                "id2",
            )
        )
        fields = ["lang", "source", "sim", "len"]
        # slim to the 7 columns downstream reads before anything
        # materializes (the attr columns existed only to compute g_*);
        # no checkpoint here — the EM aggregation and the scoring scan
        # each evaluate the (broadcast-join + projection) lineage once
        # over the memoized pair checkpoint, which is cheaper than
        # materializing 7.9M gamma rows a second time next to the
        # _fs_scored_memo checkpoint (r6: one materialization, not two)
        gamma = agreement_vectors(
            pairs,
            {
                "lang": F.col("lang1") == F.col("lang2"),
                "source": F.col("source1") == F.col("source2"),
                "sim": F.col("sim") >= 0.5,
                "len": F.col("lb1") == F.col("lb2"),
            },
        ).select("id1", "id2", "sim", "g_lang", "g_source", "g_sim", "g_len")
        params = fs_train(gamma, fields, iters=50)
        _sync_fs_fixture(params, sf_dir)
        out = fs_score(gamma, fields, params["weights_u"])
        return out.select(
            F.col("id1").cast("long"),
            F.col("id2").cast("long"),
            F.col("g_lang").cast("long").alias("g_lang"),
            F.col("g_source").cast("long").alias("g_source"),
            F.col("g_sim").cast("long").alias("g_sim"),
            F.col("g_len").cast("long").alias("g_len"),
            "score_u",
            "sim",
        )

    def _fs_scored_memo(spark, sf_dir):
        # the outer localCheckpoint looks redundant next to the gamma
        # checkpoint inside, but it pays for itself: downstream match
        # windows re-count a materialized slim frame instead of
        # re-evaluating the scoring projection per consumer (measured
        # 2.1s vs 3.5s per fs_match sample at sf0.1)
        return _memoized(
            (_skey(spark), sf_dir, "fs_scored"),
            lambda: pprl_fs_scored(spark, sf_dir).localCheckpoint(),
        )

    def pprl_fs_scored_q(spark, sf_dir):
        return _fs_scored_memo(spark, sf_dir).drop("sim")

    def pprl_fs_match(spark, sf_dir):
        # the FS-calibrated match stage: mutual-best per side ranked by
        # (score_u desc, sim desc, partner id) — integer F-S evidence
        # first, Bloom similarity as the fine tie-break (FS scores take
        # <=2^k distinct values). Same per-side rank-1 shape as
        # pprl_mutual_best_match, so the oracle is the ranked-window twin
        # over the FS CTE.
        from pprl_spark.operators.matching import mutual_best_match

        scored = _fs_scored_memo(spark, sf_dir)
        # rank over the 4 output columns only: the two window sorts carry
        # 4-col rows instead of the checkpoint's 8 (the g_* indicators are
        # derivable but unused here — smaller sort rows, same result)
        out = mutual_best_match(
            scored.select("id1", "id2", "score_u", "sim"),
            order_cols=("score_u", "sim"),
        )
        return out.select(
            F.col("id1").cast("long"),
            F.col("id2").cast("long"),
            F.col("score_u").cast("long").alias("score_u"),
            "sim",
        )

    def _fs_match_memo(spark, sf_dir):
        # memoized FS match stage table (tiny: one row per matched pair)
        # so the cluster end-cap measures the transitive closure GIVEN
        # the match stage instead of re-running the two ranking windows
        # over the 7.9M-row scored table per consumer — the same
        # stage-cost semantics as dedup_clusters riding the minhash pair
        # memo. pprl_fs_match itself stays un-memoized: the bench's
        # fs_match entry measures the windows.
        return _memoized(
            (_skey(spark), sf_dir, "fs_match"),
            lambda: pprl_fs_match(spark, sf_dir).localCheckpoint(),
        )

    def pprl_fs_clusters(spark, sf_dir):
        # FS pipeline end-cap: entities from the FS-calibrated match
        # stage — mutual-best pairs with positive net evidence
        # (score_u > 0) closed transitively. Per-side mutual-best over
        # one namespace still chains (a doc can be id1 in one pair and
        # id2 in another), so CC is the right closure, exactly as in
        # pprl_clusters.
        m = _fs_match_memo(spark, sf_dir).where(F.col("score_u") > 0)
        cc = connected_components(m.select("id1", "id2"))
        return cc.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("entity_id").cast("long").alias("entity_id"),
        )

    def ann_topk(spark, sf_dir):
        emb = _embeddings(spark, sf_dir)
        queries_df = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        corpus = emb.where(F.col("vec_id") >= 10)
        out = ANN.brute_force_topk(corpus, queries_df, k=5)
        return out.select(
            F.col("query_id").cast("long"),
            F.col("vec_id").cast("long"),
            F.round("cos", 6).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )

    def ann_lsh_buckets(spark, sf_dir):
        emb = _embeddings(spark, sf_dir)
        return emb.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            ANN.lsh_bucket_key(F.col("embedding"), 64, 8).cast("long").alias("bucket"),
        )

    def ann_ivf(spark, sf_dir):
        # IVF inverted-list search: deterministic coarse quantizer
        # (lowest-id corpus vectors), nprobe lists per query
        emb = _embeddings(spark, sf_dir)
        queries_df = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        corpus = emb.where(F.col("vec_id") >= 10)
        out = ANN.ivf_topk(corpus, queries_df, k=5, n_centroids=16, nprobe=4)
        return out.select(
            F.col("query_id").cast("long"),
            F.col("vec_id").cast("long"),
            F.round("cos", 6).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )

    def ann_ivf_persisted(spark, sf_dir):
        # the write-once/probe-many IVF shape: quantizer training + the
        # corpus-wide list assignment are paid ONCE at index-write time
        # (memoized per session, like the bucketed corpus tables); the
        # probe reads only its nprobe cent_id partitions (static
        # PartitionFilter) and never touches the rest of the corpus.
        # Same deterministic quantizer as ann_ivf -> same oracle SQL.
        emb = _embeddings(spark, sf_dir)
        centroids, lists = _ivf_index(spark, sf_dir)
        queries_df = emb.where(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = ANN.ivf_probe(centroids, lists, queries_df, k=5, nprobe=4)
        return out.select(
            F.col("query_id").cast("long"),
            F.col("vec_id").cast("long"),
            F.round("cos", 6).alias("cos"),
            F.col("rank").cast("long").alias("rank"),
        )

    def multimodal_meta(spark, sf_dir):
        # binary media plumbing end-to-end: synthesize deterministic
        # payloads (ASCII hex so a SQL oracle can reproduce the digest),
        # extract typed metadata via the mapInPandas operator
        import hashlib

        import pandas as pd

        from pprl_spark.operators.multimodal import media_metadata

        docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))

        def synth(batches):
            for pdf in batches:
                rows = []
                for did in pdf["doc_id"]:
                    did = int(did)
                    hexd = hashlib.sha256(f"media-{did}".encode()).hexdigest()
                    rows.append(
                        (
                            did,
                            f"img://{hexd[:16]}",
                            (hexd * (1 + did % 4)).encode(),
                            ["image", "audio", "video"][did % 3],
                            {
                                "width": 64 + did % 512,
                                "height": 64 + (did * 7) % 512,
                                "duration_ms": (did * 33) % 10_000,
                                "codec": ["jpeg", "opus", "h264"][did % 3],
                            },
                        )
                    )
                yield pd.DataFrame(
                    rows, columns=["doc_id", "media_ref", "payload", "media_type", "meta"]
                )

        media = docs.mapInPandas(
            synth,
            "doc_id long, media_ref string, payload binary, media_type string, "
            "meta struct<width:int,height:int,duration_ms:int,codec:string>",
        ).localCheckpoint()
        out = media_metadata(media).join(media.select("doc_id", "media_ref"), "media_ref")
        return out.select(
            "doc_id",
            "media_ref",
            "media_type",
            F.col("n_bytes").cast("long").alias("n_bytes"),
            "payload_sha256",
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            F.col("duration_ms").cast("long").alias("duration_ms"),
            "codec",
        )

    def delta_match_pairs(spark, sf_dir):
        # streaming delta-match decomposition, oracle-checked: split the
        # corpus deterministically (doc_id %% 5 == 0 -> "newly landed"),
        # score only pairs involving a delta doc via delta_candidates
        # (new-vs-corpus + new-vs-new through the blocked pair join).
        # The oracle computes ALL self-pairs over the full table (the
        # union) and keeps those touching a delta doc — equal by the
        # exact decomposition tests/test_streaming_delta.py pins.
        from pprl_spark.config import EmbedderConfig
        from pprl_spark.streaming.incremental import delta_candidates

        corpus = _corpus_blocks_bucketed(spark, sf_dir)
        delta = _blocked(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
        cfg = EmbedderConfig(bf_size=BF_SIZE, num_hashes=NUM_HASHES)
        # cap=False is deliberate (the oracle computes the EXACT union
        # decomposition); allow_uncapped acknowledges the unguarded
        # shape so the skew warning stays meaningful for real callers
        out = delta_candidates(corpus, delta, cfg, cap=False, allow_uncapped=True)
        return out.select(
            F.col("id1").cast("long").alias("id1"),
            F.col("id2").cast("long").alias("id2"),
            F.round("sim", 6).alias("sim"),
        )

    def delta_match_capped(spark, sf_dir):
        # the scale-safe production shape of delta_match_pairs: cap=True
        # bounds every block to max_block_size docs before the bucketed
        # probe (skew protection active). Capping thins celebrity blocks
        # per input frame, so the result is a (deterministic) subset of
        # the exact decomposition — no SQL oracle; the driver records a
        # rows-only check and bench records the capped number (the one a
        # cluster deployment would see).
        from pprl_spark.config import EmbedderConfig
        from pprl_spark.streaming.incremental import delta_candidates

        corpus = _corpus_blocks_bucketed(spark, sf_dir)
        delta = _blocked(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
        cfg = EmbedderConfig(bf_size=BF_SIZE, num_hashes=NUM_HASHES)
        out = delta_candidates(corpus, delta, cfg, cap=True)
        return out.select(
            F.col("id1").cast("long").alias("id1"),
            F.col("id2").cast("long").alias("id2"),
            F.round("sim", 6).alias("sim"),
        )

    def multimodal_decode(spark, sf_dir):
        # REAL decode end-to-end: synthesize genuine WAV (doc_id%3==0),
        # BMP (%3==1) and PNG (%3==2) payloads with doc_id-derived
        # parameters, decode the BYTES with the stdlib kernels
        # (operators.multimodal — the PNG path inflates IDAT with zlib
        # and reconstructs row filters), and let the oracle recompute the
        # expected fields in closed form from the same parameters. Float
        # parity is exact by design: square-wave RMS = amp/32768
        # (binary-exact: /2^15), frame count divisible by 8 so
        # duration_ms is integral, BMP/PNG level = fill/255 of the same
        # double on both engines.
        import struct as _struct

        import pandas as pd

        from pprl_spark.operators.multimodal import decode_media

        docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))

        def synth(batches):
            import io
            import wave

            for pdf in batches:
                rows = []
                for did in pdf["doc_id"]:
                    did = int(did)
                    if did % 3 == 0:
                        amp = 1000 + (did % 50) * 500
                        frames = 400 + (did % 100) * 8
                        buf = io.BytesIO()
                        with wave.open(buf, "wb") as w:
                            w.setnchannels(1)
                            w.setsampwidth(2)
                            w.setframerate(8000)
                            w.writeframes(
                                _struct.pack(
                                    "<" + "h" * frames,
                                    *([amp, -amp] * (frames // 2)),
                                )
                            )
                        payload = buf.getvalue()
                    elif did % 3 == 1:
                        w_px = 4 + did % 16
                        h_px = 2 + did % 7
                        fill = did % 256
                        row_bytes = (w_px * 3 + 3) // 4 * 4
                        row = bytes([fill] * (w_px * 3)) + b"\x00" * (row_bytes - w_px * 3)
                        pixels = row * h_px
                        info = _struct.pack(
                            "<IiiHHIIiiII", 40, w_px, h_px, 1, 24, 0,
                            len(pixels), 2835, 2835, 0, 0,
                        )
                        payload = (
                            b"BM"
                            + _struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
                            + info
                            + pixels
                        )
                    else:
                        from pprl_spark.operators.multimodal import encode_png

                        w_px = 3 + did % 13
                        h_px = 2 + did % 5
                        fill = (did * 7) % 256
                        payload = encode_png(
                            w_px, h_px, bytes([fill]) * (w_px * h_px * 3)
                        )
                    rows.append((did, f"m://{did}", payload, "media"))
                yield pd.DataFrame(
                    rows, columns=["doc_id", "media_ref", "payload", "media_type"]
                )

        media = docs.mapInPandas(
            synth, "doc_id long, media_ref string, payload binary, media_type string"
        ).localCheckpoint()
        out = decode_media(media).join(media.select("doc_id", "media_ref"), "media_ref")
        # inapplicable fields -> -1 sentinels (not NULL): the comparator
        # sorts row tuples and None does not order against ints
        return out.select(
            "doc_id",
            "container",
            F.coalesce(F.col("width").cast("long"), F.lit(-1)).alias("width"),
            F.coalesce(F.col("height").cast("long"), F.lit(-1)).alias("height"),
            F.coalesce(F.col("duration_ms").cast("long"), F.lit(-1)).alias("duration_ms"),
            F.coalesce(F.col("channels").cast("long"), F.lit(-1)).alias("channels"),
            F.coalesce(F.col("sample_rate").cast("long"), F.lit(-1)).alias("sample_rate"),
            _floor6(F.col("level")).alias("level"),
        )

    def events_sessionize(spark, sf_dir):
        # gap-based sessionization, batch form (lag + running-sum of
        # boundaries; operators/events.py) — the DuckDB oracle reproduces
        # it with the same window functions
        from pprl_spark.operators.events import sessionize_batch

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        out = sessionize_batch(ev, gap_minutes=30)
        return out.select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("session_start").cast("long").alias("session_start"),
            F.col("session_end").cast("long").alias("session_end"),
            F.col("n_events").cast("long").alias("n_events"),
        )

    def events_windowed(spark, sf_dir):
        # tumbling-window rollup over the events table (batch form of the
        # streaming watermarked aggregation, operators/events.py)
        from pprl_spark.operators.events import windowed_event_stats

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        out = windowed_event_stats(ev, window="1 hour")
        return out.select(
            F.col("window_start").cast("long").alias("window_start"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("sum_value").alias("sum_value"),
            F.col("sum_k").cast("long").alias("sum_k"),
            F.col("n_users").cast("long").alias("n_users"),
        )

    def events_anomaly(spark, sf_dir):
        # trailing-6-window z-score per (type, hour): the "traffic
        # spiked" monitoring primitive. Integer counts -> integer
        # trailing sums -> a fixed exactly-rounded double chain, so the
        # floored micro-unit scores are engine- and partitioning-exact.
        from pprl_spark.operators.events import windowed_anomaly

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return windowed_anomaly(ev, window="1 hour", trailing=6, min_windows=3)

    def events_percentiles(spark, sf_dir):
        # exact per-type percentiles (type-7 interpolation == DuckDB
        # quantile_cont; approx_percentile is deliberately NOT used — its
        # t-digest is engine-specific and cannot be value-checked)
        from pprl_spark.operators.events import event_value_percentiles

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        out = event_value_percentiles(ev)
        return out.select(
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            _floor6(F.col("p50")).alias("p50"),
            _floor6(F.col("p95")).alias("p95"),
            _floor6(F.col("p99")).alias("p99"),
        )

    def events_topk(spark, sf_dir):
        # top-3 users by event count per type; rank deterministic
        # (count desc, user_id asc)
        from pprl_spark.operators.events import top_users_per_type

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        out = top_users_per_type(ev, k=3)
        return out.select(
            "event_type",
            F.col("user_id").cast("long").alias("user_id"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("rank").cast("long").alias("rank"),
        )

    def dedup_winnow(spark, sf_dir):
        # winnowing-fingerprint near-dups (Schleimer et al. 2003): the
        # structural-guarantee complement to MinHash banding — any shared
        # run of >= k+w-1 words yields a shared fingerprint
        from pprl_spark.operators.dedup import winnow_near_duplicates

        # max_df=100 drops stop-fingerprints (templated boilerplate) on
        # BOTH engines — see operators.dedup.winnow_near_duplicates
        out = winnow_near_duplicates(
            _docs(spark, sf_dir), k=2, w=4, threshold=0.4, max_df=100
        )
        return out.select(
            F.col("id1").cast("long"),
            F.col("id2").cast("long"),
            _floor6(F.col("overlap")).alias("overlap"),
        )

    return {
    # ORDER = the driver-verification rotation (r6): the driver's
    # correctness gate records the HEAD of this dict (50 entries in r5),
    # so the 47 queries never/no-longer driver-verified as of
    # CORRECTNESS_r05 come FIRST, followed by three always-verified
    # PPRL-core canaries to fill the 50-query window; the 47 r5-verified
    # queries follow. Rotation policy: each round, move the queries
    # verified last round to the back and promote the ones that have
    # waited longest, so every query lands in the driver window at least
    # every other round. Reordering changes which rows the driver
    # records, never what any query computes.
        "spans_media_audit": spans_media_audit,
        "dedup_canonical": dedup_canonical,
        "sample_stratified": sample_stratified,
        "sample_quality_weighted": sample_quality_weighted,
        "sample_token_budget": sample_token_budget,
        "text_quality_trim": text_quality_trim,
        "text_quality_filters": text_quality_filters,
        "text_chunks": text_chunks,
        "vocab_topk": vocab_topk,
        "text_decontaminate": text_decontaminate,
        "text_dup_spans": text_dup_spans,
        "text_bm25": text_bm25,
        "text_blocklist": text_blocklist,
        "text_tfidf": text_tfidf,
        "text_surprisal": text_surprisal,
        "pprl_fs_scored": pprl_fs_scored_q,
        "pprl_fs_match": pprl_fs_match,
        "pprl_fs_clusters": pprl_fs_clusters,
        "spans_cross_media": spans_cross_media,
        "pprl_edit_pairs": pprl_edit_pairs,
        "text_pii_scrub": text_pii_scrub,
        "events_asof": events_asof,
        "events_range_join": events_range_join,
        "events_pivot": events_pivot,
        "pprl_block_stats": pprl_block_stats,
        "pprl_kanon": pprl_kanon,
        "pprl_dice_pairs": pprl_dice_pairs,
        "pprl_suppressed_pairs": pprl_suppressed_pairs,
        "corpus_rollup": corpus_rollup,
        "corpus_divergence": corpus_divergence,
        "spans_roundtrip": spans_roundtrip,
        "text_stats": text_stats,
        "ann_topk": ann_topk,
        "ann_lsh_buckets": ann_lsh_buckets,
        "ann_ivf": ann_ivf,
        "ann_ivf_persisted": ann_ivf_persisted,
        "multimodal_meta": multimodal_meta,
        "events_windowed": events_windowed,
        "events_anomaly": events_anomaly,
        "events_transitions": events_transitions,
        "events_percentiles": events_percentiles,
        "events_topk": events_topk,
        "dedup_winnow": dedup_winnow,
        "events_sessionize": events_sessionize,
        "multimodal_decode": multimodal_decode,
        "delta_match_pairs": delta_match_pairs,
        "delta_match_capped": delta_match_capped,
        "pprl_tokenize_bigrams": pprl_tokenize_bigrams,
        "pprl_bloom_stats": pprl_bloom_stats,
        "pprl_score_pairs": pprl_score_pairs,
        "pprl_bloom_embed": pprl_bloom_embed,
        "pprl_minhash_blocks": pprl_minhash_blocks,
        "pprl_thresholds": pprl_thresholds,
        "pprl_threshold_sweep": pprl_threshold_sweep,
        "pprl_review_pairs": pprl_review_pairs,
        "pprl_blocking_eval": pprl_blocking_eval,
        "pprl_mutual_best_match": pprl_mutual_best_match,
        "pprl_scm_scored": pprl_scm_scored,
        "pprl_assignment": pprl_assignment,
        "pprl_clusters": pprl_clusters,
        "pprl_skipgrams": pprl_skipgrams,
        "pprl_metaphone": pprl_metaphone,
        "features_native": features_native,
        "text_jaro_winkler": text_jaro_winkler,
        "pprl_jw_pairs": pprl_jw_pairs,
        "dedup_minhash": dedup_minhash,
        "dedup_setjoin": dedup_setjoin,
        "dedup_containment": dedup_containment,
        "dedup_delta": dedup_delta,
        "dedup_simhash": dedup_simhash,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_embedding": dedup_embedding,
        "dedup_semantic": dedup_semantic,
        "dedup_recall_report": dedup_recall_report,
        "dedup_snm_pairs": dedup_snm_pairs,
        "dedup_split": dedup_split,
        "dedup_canonical_pr": dedup_canonical_pr,
        "dedup_exact": dedup_exact,
        "dedup_clusters": dedup_clusters,
        "delta_clusters": delta_clusters,
        "dedup_cluster_sizes": dedup_cluster_sizes,
        "dedup_eval": dedup_eval,
        "dedup_cluster_density": dedup_cluster_density,
        "dedup_source_matrix": dedup_source_matrix,
        "graph_triangles": graph_triangles,
        "graph_pagerank": graph_pagerank,
        "corpus_profile": corpus_profile,
        "corpus_histogram": corpus_histogram,
        "layout_zorder": layout_zorder,
        "pprl_soundex": pprl_soundex,
        "events_funnel": events_funnel,
        "events_cohorts": events_cohorts,
        "text_bigram_lm": text_bigram_lm,
        "vocab_pmi": vocab_pmi,
        "spans_exact_dedup": spans_exact_dedup,
        "spans_chunked": spans_chunked,
        "spans_modality": spans_modality,
    }


def oracle_sql() -> dict[str, str]:
    from pprl_spark.functions.layout import zorder_key_sql
    from pprl_spark.functions.phonetic import soundex_sql

    grams_exploded =f"WITH grams AS ({SQL_GRAMS}) SELECT doc_id, unnest(feats) AS gram FROM grams"

    bloom_embed = (
        SQL_BLOOM + "SELECT doc_id, unnest(bf) AS bf_idx FROM per_doc"
    )

    bloom_stats = (
        SQL_BLOOM
        + "SELECT doc_id, len(bf)::BIGINT AS n_indices, "
        + "round(1.0 - len(bf)::DOUBLE / n_raw, 6) AS collision_fraction FROM per_doc"
    )

    blocks_sql = SQL_BLOCKS + " SELECT doc_id, block_key FROM blocks"

    # k-anonymity twin: same blocks CTE, per-k conditional sums over the
    # size dim and the per-doc min-block-size table
    kanon_sql = (
        SQL_BLOCKS
        + """
, sizes AS (SELECT block_key, count(*)::BIGINT AS n FROM blocks GROUP BY 1),
dm AS (
  SELECT b.doc_id, min(s.n)::BIGINT AS minn
  FROM blocks b JOIN sizes s USING (block_key)
  GROUP BY 1
),
tot AS (SELECT count(*)::BIGINT AS n_blocks_total FROM sizes),
dt AS (SELECT count(*)::BIGINT AS n_docs_total FROM dm),
ks AS (SELECT unnest([2, 5, 10]) AS k),
sb AS (
  SELECT ks.k,
         sum(CASE WHEN s.n < ks.k THEN 1 ELSE 0 END)::BIGINT AS n_blocks_below,
         sum(CASE WHEN s.n < ks.k THEN s.n ELSE 0 END)::BIGINT AS n_entries_below
  FROM sizes s, ks GROUP BY 1
),
xb AS (
  SELECT ks.k,
         sum(CASE WHEN dm.minn < ks.k THEN 1 ELSE 0 END)::BIGINT AS n_docs_exposed
  FROM dm, ks GROUP BY 1
)
SELECT sb.k::BIGINT AS k, n_blocks_below, n_entries_below, n_docs_exposed,
       n_blocks_total, n_docs_total,
       CASE WHEN n_docs_total > 0
            THEN n_docs_exposed::DOUBLE / n_docs_total::DOUBLE ELSE 0.0 END AS exposed_frac
FROM sb JOIN xb USING (k), tot, dt
"""
    )

    pairs_sql = SQL_PAIRS + " SELECT id1, id2, sim FROM pairs"

    jw_pairs_sql = (
        SQL_PAIRS
        + r"""
, t12 AS (
  SELECT doc_id::BIGINT AS doc_id,
         array_to_string(regexp_split_to_array(lower(text), '\s+')[1:12], ' ') AS t12
  FROM documents
)
SELECT p.id1, p.id2, p.sim,
       floor(jaro_winkler_similarity(a.t12, b.t12) * 1000000)/1000000.0 AS jw_sim
FROM pairs p
JOIN t12 a ON a.doc_id = p.id1
JOIN t12 b ON b.doc_id = p.id2
WHERE p.sim >= 0.5 AND (p.id1 * 1000003 + p.id2) % 7 = 0
"""
    )

    # sweep twin: truth partition by normalized text (≡ the two-hash
    # grouping modulo 2^-128), identical binning/cumulative-window math
    threshold_sweep_sql = (
        SQL_PAIRS
        + r"""
, tr AS (
  SELECT doc_id::BIGINT AS doc_id,
         array_to_string(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                     x -> x <> ''), ' ') AS nt
  FROM documents
),
fl AS (
  SELECT least(floor(p.sim * 20)::BIGINT, 20) AS bin,
         CASE WHEN a.nt = b.nt THEN 1 ELSE 0 END AS t
  FROM pairs p JOIN tr a ON a.doc_id = p.id1 JOIN tr b ON b.doc_id = p.id2
),
bn AS (SELECT bin, count(*)::BIGINT AS n_pairs, sum(t)::BIGINT AS n_true FROM fl GROUP BY bin),
tot AS (SELECT sum(n*(n-1)//2)::BIGINT AS tot
        FROM (SELECT count(*)::BIGINT AS n FROM tr GROUP BY nt)),
cm AS (
  SELECT bin, n_pairs, n_true,
         sum(n_pairs) OVER (ORDER BY bin DESC)::BIGINT AS cum_pairs,
         sum(n_true) OVER (ORDER BY bin DESC)::BIGINT AS cum_true
  FROM bn
)
SELECT bin, bin::DOUBLE / 20 AS thr, n_pairs, n_true, cum_pairs, cum_true,
       cum_true::DOUBLE / cum_pairs::DOUBLE AS precision,
       CASE WHEN tot > 0 THEN cum_true::DOUBLE / tot::DOUBLE ELSE 0.0 END AS recall
FROM cm, tot
"""
    )

    # review-sample twin: identical sha256 pair hash (salt 11) + per-bin
    # ranking window
    review_pairs_sql = (
        SQL_PAIRS
        + """
, h AS (
  SELECT least(floor(sim * 20)::BIGINT, 20) AS bin, id1, id2, sim,
         ('0x' || substring(sha256('11:' || id1::VARCHAR || ':' || id2::VARCHAR), 1, 15))::BIGINT AS hh
  FROM pairs
),
r AS (
  SELECT bin, id1, id2, sim,
         row_number() OVER (PARTITION BY bin ORDER BY hh, id1, id2)::BIGINT AS rk
  FROM h
)
SELECT bin, id1, id2, sim, rk FROM r WHERE rk <= 3
"""
    )

    # blocking-metrics twin: counted aggregates over the same pair CTE
    # and normalized-text truth partition
    blocking_eval_sql = (
        SQL_PAIRS
        + r"""
, tr AS (
  SELECT doc_id::BIGINT AS doc_id,
         array_to_string(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                     x -> x <> ''), ' ') AS nt
  FROM documents
),
c AS (
  SELECT count(*)::BIGINT AS n_cand_pairs,
         coalesce(sum(CASE WHEN a.nt = b.nt THEN 1 ELSE 0 END), 0)::BIGINT AS n_true_cand
  FROM pairs p JOIN tr a ON a.doc_id = p.id1 JOIN tr b ON b.doc_id = p.id2
),
d AS (SELECT count(*)::BIGINT AS n_docs FROM tr),
t AS (SELECT sum(n*(n-1)//2)::BIGINT AS n_true_total
      FROM (SELECT count(*)::BIGINT AS n FROM tr GROUP BY nt))
SELECT n_docs, (n_docs*(n_docs-1)//2)::BIGINT AS n_possible_pairs,
       n_cand_pairs, n_true_cand, n_true_total,
       1.0 - n_cand_pairs::DOUBLE / ((n_docs*(n_docs-1)//2))::DOUBLE AS reduction_ratio,
       CASE WHEN n_true_total > 0
            THEN n_true_cand::DOUBLE / n_true_total::DOUBLE ELSE 0.0 END AS pairs_completeness,
       CASE WHEN n_cand_pairs > 0
            THEN n_true_cand::DOUBLE / n_cand_pairs::DOUBLE ELSE 0.0 END AS pairs_quality
FROM c, d, t
"""
    )

    thresholds_sql = (
        SQL_PAIRS
        + """
SELECT doc_id, round(max(sim), 6) AS thresholds FROM (
  SELECT id1 AS doc_id, sim FROM pairs
  UNION ALL
  SELECT id2 AS doc_id, sim FROM pairs
) GROUP BY doc_id
"""
    )

    ranked_cte = """
, ranked AS (
  SELECT id1, id2, sim,
         row_number() OVER (PARTITION BY id1 ORDER BY sim DESC, id2 ASC) AS r1,
         row_number() OVER (PARTITION BY id2 ORDER BY sim DESC, id1 ASC) AS r2
  FROM pairs
)
"""
    mutual_sql = (
        SQL_PAIRS + ranked_cte + "SELECT id1, id2, sim FROM ranked WHERE r1 = 1 AND r2 = 1"
    )

    # trained-SCM quadratic form x1ᵀ A x2 / (‖x1‖_A · ‖x2‖_A) reproduced from
    # the sparse matrix the Spark query dumps (embedder.py:519 with trained
    # scm; cells absent from the dump are exact zeros)
    scm_scored_sql = (
        SQL_PAIRS
        + f"""
, m AS (SELECT id1, id2 FROM pairs
        WHERE sim >= 0.5 AND (id1 * 1000003 + id2) % 37 = 0),
ids AS (SELECT id1 AS d FROM m UNION SELECT id2 FROM m),
docs_idx AS (
  SELECT p.doc_id, unnest(p.bf) AS ix FROM per_doc p JOIN ids ON p.doc_id = ids.d
),
scm AS (SELECT i, j, val FROM read_parquet('{SCM_FIXTURE}')),
norms AS (
  SELECT a.doc_id, sqrt(sum(s.val)) AS nrm
  FROM docs_idx a JOIN docs_idx b USING (doc_id)
  JOIN scm s ON s.i = a.ix AND s.j = b.ix
  GROUP BY a.doc_id
),
num AS (
  SELECT m.id1, m.id2, sum(s.val) AS numer
  FROM m
  JOIN docs_idx a ON a.doc_id = m.id1
  JOIN docs_idx b ON b.doc_id = m.id2
  JOIN scm s ON s.i = a.ix AND s.j = b.ix
  GROUP BY m.id1, m.id2
)
SELECT n.id1, n.id2, round(n.numer / nullif(n1.nrm * n2.nrm, 0), 6) AS scm_sim
FROM num n
JOIN norms n1 ON n1.doc_id = n.id1
JOIN norms n2 ON n2.doc_id = n.id2
"""
    )

    # golden-table oracles: expected outputs precomputed at sf0.01 by
    # tools/build_fixtures.py and committed (DuckDB cannot run
    # double-metaphone or the Hungarian algorithm natively)
    metaphone_sql = (
        f"SELECT doc_id, code FROM read_parquet('{FIXTURES_DIR}/metaphone_sf001.parquet')"
    )
    assignment_sql = (
        f"SELECT id1, id2, sim FROM read_parquet('{FIXTURES_DIR}/assignment_sf001.parquet')"
    )

    clusters_sql = (
        SQL_PAIRS.replace("WITH grams", "WITH RECURSIVE grams", 1)
        + """
, edges AS (
  SELECT id1 AS u, id2 AS v FROM pairs WHERE sim >= 0.8
  UNION SELECT id2, id1 FROM pairs WHERE sim >= 0.8
),
nodes AS (SELECT DISTINCT u AS n FROM edges),
walk(n, lbl) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.n
)
SELECT n::BIGINT AS doc_id, min(lbl)::BIGINT AS entity_id FROM walk GROUP BY n
"""
    )

    dedup_exact_sql = r"""
WITH norm AS (
  SELECT doc_id::BIGINT AS doc_id,
         array_to_string(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                     w -> w <> ''), ' ') AS norm_text
  FROM documents
),
canon AS (
  SELECT norm_text, min(doc_id) AS canonical_id, count(*)::BIGINT AS n_copies
  FROM norm GROUP BY norm_text
)
SELECT n.doc_id, c.canonical_id, c.n_copies
FROM norm n JOIN canon c USING (norm_text)
"""

    # winnowing oracle: ordered k=2 shingle hashes (NO dedupe), sliding
    # window of 4 minima, distinct selection, fingerprint-share join,
    # Jaccard over fingerprint sets — the SQL twin of
    # functions.text.winnow_fingerprints + operators.dedup.winnow_near_duplicates
    winnow_sql = rf"""
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
),
shingled AS (
  SELECT doc_id,
         CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i:i+1], ' ') FOR i IN range(1, len(w))] END AS sgl
  FROM w
),
h AS (
  SELECT doc_id,
         [list_reduce([0::BIGINT] || [ascii(c) FOR c IN string_split(s, '')],
                      (a, x) -> (a * {TXT.HASH_BASE} + x) % {TXT.HASH_MOD})
          FOR s IN sgl] AS h
  FROM shingled
),
fp AS (
  SELECT doc_id,
         list_sort(list_distinct(
           CASE WHEN len(h) <= 4 THEN [list_min(h)]
                ELSE [list_min(h[j:j+3]) FOR j IN range(1, len(h) - 2)] END
         )) AS fps
  FROM h WHERE len(h) > 0
),
ex AS (SELECT doc_id, unnest(fps) AS f FROM fp),
dfreq AS (SELECT f, count(*) AS c FROM ex GROUP BY f),
exk AS (SELECT doc_id, f FROM ex JOIN dfreq USING (f) WHERE c <= 100),
fpk AS (
  SELECT doc_id, list_sort(array_agg(f)) AS fps FROM exk GROUP BY doc_id
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM exk a JOIN exk b USING (f) WHERE a.doc_id < b.doc_id
),
scored AS (
  SELECT id1, id2,
         len(list_intersect(f1.fps, f2.fps))::DOUBLE
           / (len(f1.fps) + len(f2.fps) - len(list_intersect(f1.fps, f2.fps))) AS ov
  FROM cand JOIN fpk f1 ON f1.doc_id = id1 JOIN fpk f2 ON f2.doc_id = id2
)
SELECT id1, id2, floor(ov * 1000000)/1000000.0 AS overlap FROM scored WHERE ov >= 0.4
"""

    lang_cases = []
    for code, toks in sorted(TXT.LANG_PROFILES.items()):
        arr = "[" + ", ".join(f"'{t}'" for t in toks) + "]"
        lang_cases.append(f"len(list_intersect(w_distinct, {arr}))")
    # struct-max tie-break identical to the Spark column: (score, -rank, code)
    lang_structs = ", ".join(
        f"{{'score': {expr}, 'rank': {-i}, 'code': '{code}'}}"
        for i, ((code, _), expr) in enumerate(zip(sorted(TXT.LANG_PROFILES.items()), lang_cases))
    )

    text_stats_sql = rf"""
WITH base AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), w -> w <> '') AS w
  FROM documents
),
ext AS (
  SELECT doc_id, w, list_distinct(w) AS w_distinct,
         len(w)::BIGINT AS n_tokens,
         len(list_distinct(w))::BIGINT AS n_distinct,
         list_reduce([0::BIGINT] || [ascii(c) FOR c IN string_split(array_to_string(w, ' '), '')],
                     (acc, x) -> (acc * {TXT.HASH_BASE} + x) % {TXT.HASH_MOD}) AS fp
  FROM base
),
scored AS (
  SELECT *,
         CASE WHEN n_tokens > 0
              THEN list_reduce([0::BIGINT] || [len(x) FOR x IN w], (a, x) -> a + x)::DOUBLE / n_tokens
              ELSE 0.0 END AS mean_len,
         CASE WHEN n_tokens > 0 THEN n_distinct::DOUBLE / n_tokens ELSE 0.0 END AS distinct_ratio,
         list_max([{lang_structs}]) AS best
  FROM ext
)
SELECT s.doc_id, n_tokens, n_distinct,
       len(regexp_extract_all(lower(d.text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+'))::BIGINT AS n_bpe,
       floor((0.4 * least(1.0, n_tokens / 50.0)
              + 0.3 * distinct_ratio
              + 0.3 * least(1.0, mean_len / 8.0)) * 1000000)/1000000.0 AS quality,
       fp,
       CASE WHEN best.score > 0 THEN best.code ELSE 'und' END AS lang_pred
FROM scored s JOIN documents d ON d.doc_id = s.doc_id
"""

    ann_topk_sql = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 10),
scored AS (
  SELECT q.query_id, c.vec_id,
         list_reduce([0.0] || [qv[i+1]::DOUBLE * cv[i+1]::DOUBLE FOR i IN range(0, len(qv))], (a, x) -> a + x)
         / (sqrt(list_reduce([0.0] || [qv[i+1]::DOUBLE * qv[i+1]::DOUBLE FOR i IN range(0, len(qv))], (a, x) -> a + x))
            * sqrt(list_reduce([0.0] || [cv[i+1]::DOUBLE * cv[i+1]::DOUBLE FOR i IN range(0, len(cv))], (a, x) -> a + x))) AS cos
  FROM c, q
),
ranked AS (
  SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id, round(cos, 6) AS cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)::BIGINT AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
"""

    def _cos_sql(a: str, b: str) -> str:
        # sequential list_reduce matches Spark's aggregate-over-zip_with
        # element order, so the doubles are bit-identical
        def sq(x, y):
            return (
                f"list_reduce([0.0] || [{x}[i+1]::DOUBLE * {y}[i+1]::DOUBLE "
                f"FOR i IN range(0, len({x}))], (acc, v) -> acc + v)"
            )

        return f"({sq(a, b)} / (sqrt({sq(a, a)}) * sqrt({sq(b, b)})))"

    ann_ivf_sql = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 10),
cent AS (SELECT vec_id AS cent_id, cv AS centv FROM c ORDER BY vec_id LIMIT 16),
lists AS (
  SELECT vec_id, cv, cent_id FROM (
    SELECT c.vec_id, c.cv, cent.cent_id,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {_cos_sql('cv', 'centv')} DESC, cent.cent_id ASC) AS r
    FROM c, cent
  ) WHERE r = 1
),
probes AS (
  SELECT query_id, qv, cent_id FROM (
    SELECT q.query_id, q.qv, cent.cent_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_cos_sql('qv', 'centv')} DESC, cent.cent_id ASC) AS r
    FROM q, cent
  ) WHERE r <= 4
),
scored AS (
  SELECT probes.query_id, lists.vec_id, {_cos_sql('qv', 'cv')} AS cos
  FROM lists JOIN probes USING (cent_id)
),
ranked AS (
  SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id, round(cos, 6) AS cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)::BIGINT AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
"""

    # SNM twin: row_number over the identical concat sort key (binary
    # collation in both engines), rank-difference join
    dedup_snm_sql = r"""
WITH wx AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
),
k AS (
  SELECT doc_id,
         array_to_string(w[1:2], ' ') || '|' || lpad(doc_id::VARCHAR, 20, '0') AS ok
  FROM wx
),
r AS (SELECT doc_id, row_number() OVER (ORDER BY ok) - 1 AS rn FROM k),
p AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb
  FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3
)
SELECT least(ida, idb)::BIGINT AS id1, greatest(ida, idb)::BIGINT AS id2 FROM p
"""

    # SemDeDup twin: same lowest-id quantizer/assignment CTE as
    # ann_ivf_sql, quadratic check within lists only
    dedup_semantic_sql = f"""
WITH c AS (SELECT vec_id, embedding AS cv FROM embeddings),
cent AS (SELECT vec_id AS cent_id, cv AS centv FROM c ORDER BY vec_id LIMIT 16),
lists AS (
  SELECT vec_id, cv, cent_id FROM (
    SELECT c.vec_id, c.cv, cent.cent_id,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {_cos_sql('cv', 'centv')} DESC, cent.cent_id ASC) AS r
    FROM c, cent
  ) WHERE r = 1
),
dup AS (
  SELECT b.vec_id, min(a.vec_id)::BIGINT AS dup_of
  FROM lists a JOIN lists b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  WHERE {_cos_sql('a.cv', 'b.cv')} >= 0.4
  GROUP BY b.vec_id
)
SELECT l.vec_id::BIGINT AS vec_id, l.cent_id::BIGINT AS cent_id,
       coalesce(d.dup_of, -1)::BIGINT AS dup_of,
       (d.dup_of IS NOT NULL) AS is_dup
FROM lists l LEFT JOIN dup d USING (vec_id)
"""

    multimodal_meta_sql = """
WITH h AS (
  SELECT doc_id::BIGINT AS doc_id, sha256('media-' || doc_id::VARCHAR) AS hx
  FROM documents
)
SELECT doc_id,
       'img://' || substr(hx, 1, 16) AS media_ref,
       ['image', 'audio', 'video'][(doc_id % 3 + 1)::INT] AS media_type,
       (64 * (1 + doc_id % 4))::BIGINT AS n_bytes,
       sha256(repeat(hx, (1 + doc_id % 4)::INT)) AS payload_sha256,
       (64 + doc_id % 512)::BIGINT AS width,
       (64 + (doc_id * 7) % 512)::BIGINT AS height,
       ((doc_id * 33) % 10000)::BIGINT AS duration_ms,
       ['jpeg', 'opus', 'h264'][(doc_id % 3 + 1)::INT] AS codec
FROM h
"""

    plane_terms = []
    for j in range(8):
        plane_terms.append(
            f"CASE WHEN list_reduce([0.0] || [embedding[i+1]::DOUBLE * "
            f"(((({j + 1}) * 2654435761 + i * 40503) % {ANN.MOD})::DOUBLE / {ANN.MOD} - 0.5) "
            f"FOR i IN range(0, len(embedding))], (a, x) -> a + x) >= 0 THEN {2 ** j} ELSE 0 END"
        )
    ann_lsh_sql = (
        "SELECT vec_id::BIGINT AS vec_id, ("
        + " + ".join(plane_terms)
        + ")::BIGINT AS bucket FROM embeddings"
    )

    skipgrams_sql = r"""
WITH toks AS (
  SELECT doc_id::BIGINT AS doc_id,
         ['_' || w || '_' FOR w IN list_filter(
            regexp_split_to_array(lower(text), '[\s+\-_,.]+'), w -> w <> '')] AS ts
  FROM documents
)
SELECT doc_id,
       unnest(list_distinct(flatten(
         [[t[i:i] || t[i+2:i+2] FOR i IN range(1, len(t) - 1)] FOR t IN ts]
       ))) AS gram
FROM toks
"""

    features_native_sql = """
SELECT doc_id::BIGINT AS doc_id, unnest([
  'sex<' || substring(lower(lang), 1, 1) || '>',
  'day<' || printf('%02d', 1 + doc_id % 28) || '>',
  'month<' || printf('%02d', 1 + doc_id % 12) || '>',
  'year<' || printf('%04d', 1950 + doc_id % 60) || '>',
  'src<' || lower(source) || '>'
]) AS feat FROM documents
"""

    jw_sql = r"""
WITH t AS (
  SELECT doc_id::BIGINT AS doc_id,
         array_to_string(regexp_split_to_array(lower(text), '\s+')[1:12], ' ') AS t12
  FROM documents
)
SELECT a.doc_id, floor(jaro_winkler_similarity(a.t12, b.t12) * 1000000)/1000000.0 AS jw
FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
"""

    # shared shingle-hash CTE for the minhash/simhash dedup oracles:
    # k=2 word shingles -> rolling hash (base 31 mod 1e9+7), deduped
    sh_cte = rf"""
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
),
shingled AS (
  SELECT doc_id,
         CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i:i+1], ' ') FOR i IN range(1, len(w))] END AS sgl
  FROM w
),
sh AS (
  SELECT doc_id,
         list_distinct([
           list_reduce([0::BIGINT] || [ascii(c) FOR c IN string_split(s, '')],
                       (a, x) -> (a * {TXT.HASH_BASE} + x) % {TXT.HASH_MOD})
           FOR s IN sgl]) AS sh
  FROM shingled
)
"""

    from pprl_spark.operators.blocking import minhash_coeffs as _mc

    def _dedup_band(b: int, r: int = 2) -> str:
        parts = []
        for i in range(r):
            j = b * r + i
            a, bb = _mc(j + 1)[j]
            parts.append(
                f"list_min([({a} * x + {bb}) % {MINHASH_PRIME} FOR x IN sh])::VARCHAR"
            )
        return f"('b{b}:' || '-' || " + " || '-' || ".join(parts) + ")"

    dedup_minhash_sql = (
        sh_cte
        + ", blocks AS (SELECT doc_id, sh, unnest(["
        + ", ".join(_dedup_band(b) for b in range(4))
        + """]) AS bk FROM sh),
pairs AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2, l.sh AS sh1, r.sh AS sh2
  FROM blocks l JOIN blocks r USING (bk) WHERE l.doc_id < r.doc_id
),
scored AS (
  SELECT id1, id2,
         len(list_intersect(sh1, sh2))::DOUBLE
           / (len(sh1) + len(sh2) - len(list_intersect(sh1, sh2))) AS j
  FROM pairs
)
SELECT id1, id2, floor(j * 1000000)/1000000.0 AS jaccard FROM scored WHERE j >= 0.4
"""
    )

    dedup_clusters_sql = (
        sh_cte.replace("WITH w AS", "WITH RECURSIVE w AS", 1)
        + ", blocks AS (SELECT doc_id, sh, unnest(["
        + ", ".join(_dedup_band(b) for b in range(4))
        + """]) AS bk FROM sh),
pairs AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2, l.sh AS sh1, r.sh AS sh2
  FROM blocks l JOIN blocks r USING (bk) WHERE l.doc_id < r.doc_id
),
nd AS (
  SELECT id1, id2 FROM pairs
  WHERE len(list_intersect(sh1, sh2))::DOUBLE
          / (len(sh1) + len(sh2) - len(list_intersect(sh1, sh2))) >= 0.4
),
edges AS (SELECT id1 AS u, id2 AS v FROM nd UNION SELECT id2, id1 FROM nd),
nodes AS (SELECT DISTINCT u AS n FROM edges),
walk(n, lbl) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT e.u, w2.lbl FROM edges e JOIN walk w2 ON e.v = w2.n
)
SELECT n::BIGINT AS doc_id, min(lbl)::BIGINT AS entity_id FROM walk GROUP BY n
"""
    )

    dedup_canonical_sql = (
        dedup_clusters_sql.replace(final_sel := "SELECT n::BIGINT AS doc_id, min(lbl)::BIGINT AS entity_id FROM walk GROUP BY n", ", cc AS (" + final_sel + ")")
        + r"""
, q AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
),
qs AS (
  SELECT doc_id,
         (0.4 * least(1.0, len(w) / 50.0)
          + 0.3 * (CASE WHEN len(w) > 0 THEN len(list_distinct(w))::DOUBLE / len(w) ELSE 0.0 END)
          + 0.3 * least(1.0, (CASE WHEN len(w) > 0
               THEN list_reduce([0::BIGINT] || [len(x) FOR x IN w], (a, x) -> a + x)::DOUBLE / len(w)
               ELSE 0.0 END) / 8.0)) AS qv
  FROM q
),
members AS (
  SELECT coalesce(cc.entity_id, qs.doc_id) AS entity_id, qs.doc_id, qs.qv
  FROM qs LEFT JOIN cc ON cc.doc_id = qs.doc_id
)
SELECT entity_id, doc_id AS canonical_id,
       floor(qv * 1000000)/1000000.0 AS quality, n_members
FROM (
  SELECT entity_id, doc_id, qv,
         row_number() OVER (PARTITION BY entity_id ORDER BY qv DESC, doc_id ASC) AS r,
         count(*) OVER (PARTITION BY entity_id)::BIGINT AS n_members
  FROM members
) WHERE r = 1
"""
    )

    text_quality_filters_sql = r"""
WITH w0 AS (
  SELECT doc_id::BIGINT AS doc_id, lower(text) AS low,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
),
m AS (
  SELECT doc_id,
    CASE WHEN len(w) > 0
         THEN list_max([len(list_filter(w, x -> x = d)) FOR d IN list_distinct(w)])::DOUBLE / len(w)
         ELSE 0.0 END AS rep,
    CASE WHEN len(low) > 0
         THEN len(regexp_replace(low, '[a-z0-9\s]', '', 'g'))::DOUBLE / len(low)
         ELSE 0.0 END AS sym,
    coalesce(list_max([len(x) FOR x IN w]), 0)::BIGINT AS mwl,
    CASE WHEN len(w) > 0
         THEN len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(w)
         ELSE 0.0 END AS alpha
  FROM w0
)
SELECT doc_id,
       floor(rep * 1000000)/1000000.0 AS rep_ratio,
       floor(sym * 1000000)/1000000.0 AS sym_ratio,
       mwl AS max_word_len,
       floor(alpha * 1000000)/1000000.0 AS alpha_ratio,
       (CASE WHEN rep <= 0.12 AND mwl <= 7 THEN 1 ELSE 0 END)::BIGINT AS keep
FROM m
"""

    text_chunks_sql = r"""
WITH w0 AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
),
c AS (
  SELECT doc_id, w,
         unnest(range(0, CASE WHEN len(w) > 0 THEN 1 + (len(w) - 1) // 10 ELSE 0 END)) AS i
  FROM w0
)
SELECT doc_id,
       i::BIGINT AS chunk_id,
       least(20, len(w) - i * 10)::BIGINT AS n_tokens,
       array_to_string(w[i * 10 + 1 : i * 10 + 20], ' ') AS chunk_text
FROM c
"""

    spans_roundtrip_sql = """
SELECT doc_id::BIGINT AS doc_id, 0::BIGINT AS offset, 'text' AS kind,
       'lang=' || coalesce(lang::VARCHAR, '') AS text, NULL::VARCHAR AS media_ref
FROM documents
UNION ALL
SELECT doc_id::BIGINT, 1::BIGINT, 'text',
       'source=' || coalesce(source::VARCHAR, ''), NULL::VARCHAR
FROM documents
UNION ALL
SELECT doc_id::BIGINT, 2::BIGINT, 'text',
       'n_chars=' || coalesce(n_chars::VARCHAR, ''), NULL::VARCHAR
FROM documents
"""

    sample_stratified_sql = """
SELECT doc_id::BIGINT AS doc_id, lang
FROM documents
WHERE ('0x' || substring(sha256('7:' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000 <
      CASE lang WHEN 'en' THEN 200000 WHEN 'zh' THEN 1000000 ELSE 500000 END
"""

    simhash_bits = []
    for j in range(32):
        simhash_bits.append(
            f"CASE WHEN list_reduce([0] || [CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END FOR h IN sh], (a, x) -> a + x) > 0 THEN {2 ** j} ELSE 0 END"
        )
    dedup_simhash_sql = (
        sh_cte
        + "SELECT doc_id, ("
        + " + ".join(simhash_bits)
        + ")::BIGINT AS simhash FROM sh"
    )

    dedup_embedding_sql = (
        "WITH b AS (SELECT vec_id::BIGINT AS vec_id, embedding, ("
        + " + ".join(plane_terms)
        + """)::BIGINT AS bucket FROM embeddings),
s AS (
  SELECT l.vec_id AS id1, r.vec_id AS id2,
         list_reduce([0.0] || [l.embedding[k+1]::DOUBLE * r.embedding[k+1]::DOUBLE FOR k IN range(0, len(l.embedding))], (x, y) -> x + y)
         / (sqrt(list_reduce([0.0] || [l.embedding[k+1]::DOUBLE * l.embedding[k+1]::DOUBLE FOR k IN range(0, len(l.embedding))], (x, y) -> x + y))
            * sqrt(list_reduce([0.0] || [r.embedding[k+1]::DOUBLE * r.embedding[k+1]::DOUBLE FOR k IN range(0, len(r.embedding))], (x, y) -> x + y))) AS cos
  FROM b l JOIN b r ON l.vec_id < r.vec_id AND bit_count(xor(l.bucket, r.bucket)) <= 1
)
SELECT id1, id2, round(cos, 6) AS cos FROM s WHERE cos >= 0.4
"""
    )


    # ngram-Jaccard = MinHash band candidates (8 bands, r=2 — the
    # operator's default) verified by exact Jaccard
    dedup_ngram_sql = (
        sh_cte
        + ", blocks AS (SELECT doc_id, sh, unnest(["
        + ", ".join(_dedup_band(b) for b in range(8))
        + """]) AS bk FROM sh),
pairs AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2, l.sh AS sh1, r.sh AS sh2
  FROM blocks l JOIN blocks r USING (bk) WHERE l.doc_id < r.doc_id
),
scored AS (
  SELECT id1, id2,
         len(list_intersect(sh1, sh2))::DOUBLE
           / (len(sh1) + len(sh2) - len(list_intersect(sh1, sh2))) AS j
  FROM pairs
)
SELECT id1, id2, floor(j * 1000000)/1000000.0 AS jaccard FROM scored WHERE j >= 0.2
"""
    )

    vocab_topk_sql = r"""
WITH w AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS word
  FROM documents
),
c AS (SELECT word, count(*)::BIGINT AS cnt FROM w GROUP BY word)
SELECT word, cnt FROM c ORDER BY cnt DESC, word LIMIT 100
"""

    # decontamination oracle: identical rolling-hash 3-gram keys as the
    # Spark side (so hash-collision behavior is shared, not approximated),
    # gram size 3 — dense enough overlap on this corpus to be non-trivial,
    # benchmark slice doc_id % 97 = 0, distinct-shared-gram counts
    text_decontaminate_sql = rf"""
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
),
sgl AS (
  SELECT doc_id,
         CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)] END AS sgl
  FROM w WHERE len(w) > 0
),
h AS (
  SELECT doc_id,
         list_distinct([list_reduce([0::BIGINT] || [ascii(c) FOR c IN string_split(s, '')],
                      (a, x) -> (a * {TXT.HASH_BASE} + x) % {TXT.HASH_MOD}) FOR s IN sgl]) AS hs
  FROM sgl
),
bg AS (SELECT DISTINCT unnest(hs) AS gram FROM h WHERE doc_id % 97 = 0),
cg AS (SELECT doc_id, unnest(hs) AS gram FROM h WHERE doc_id % 97 <> 0)
SELECT doc_id, count(*)::BIGINT AS n_shared
FROM cg JOIN bg USING (gram)
GROUP BY doc_id
"""

    # granular-dedup twin: identical rolling-hash 5-grams with positions
    # (generate_subscripts aligns with unnest), count>=2 gram filter,
    # lag-based span merge (windows touch iff pos gap <= n), short-doc
    # whole-text shingle capped at n_tokens
    text_dup_spans_sql = rf"""
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
),
sgl AS (
  SELECT doc_id, len(w)::BIGINT AS n_tokens,
         CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
              ELSE [array_to_string(w[i:i+4], ' ') FOR i IN range(1, len(w) - 3)] END AS sgl
  FROM w WHERE len(w) > 0
),
h AS (
  SELECT doc_id, n_tokens,
         [list_reduce([0::BIGINT] || [ascii(c) FOR c IN string_split(s, '')],
                      (a, x) -> (a * {TXT.HASH_BASE} + x) % {TXT.HASH_MOD}) FOR s IN sgl] AS hs
  FROM sgl
),
g AS (
  SELECT doc_id, n_tokens, unnest(hs) AS gram,
         generate_subscripts(hs, 1) - 1 AS pos
  FROM h
),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
hits AS (SELECT doc_id, n_tokens, pos FROM g JOIN dup USING (gram)),
flag AS (
  SELECT doc_id, n_tokens, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                   OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
              THEN 1 ELSE 0 END AS new_span
  FROM hits
),
sp AS (
  SELECT doc_id, n_tokens, pos,
         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
  FROM flag
),
spans AS (
  SELECT doc_id, n_tokens, span_id, min(pos) AS s, max(pos) AS e
  FROM sp GROUP BY 1, 2, 3
),
agg AS (
  SELECT doc_id, n_tokens,
         sum(least(e + 5, n_tokens) - s)::BIGINT AS n_dup_tokens,
         count(*)::BIGINT AS n_spans
  FROM spans GROUP BY 1, 2
)
SELECT d.doc_id, d.n_tokens,
       coalesce(n_dup_tokens, 0)::BIGINT AS n_dup_tokens,
       coalesce(n_spans, 0)::BIGINT AS n_spans,
       coalesce(n_dup_tokens, 0)::DOUBLE / d.n_tokens::DOUBLE AS dup_fraction
FROM (SELECT doc_id, n_tokens FROM sgl) d
LEFT JOIN agg USING (doc_id, n_tokens)
"""

    # BM25 twin: identical expression tree (left-assoc multiply/divide,
    # 2.2 == the double of python 1.2+1.0, micro-nat idf floor at the
    # tiny term table), integer contribution sum
    text_bm25_sql = r"""
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
),
base AS (SELECT doc_id, w FROM w WHERE len(w) > 0),
stats AS (SELECT count(*)::BIGINT AS nd, sum(len(w))::BIGINT AS tt FROM base),
qt AS (SELECT * FROM (VALUES
  ('ret_a','table'),('ret_a','scan'),('ret_a','filter'),
  ('ret_b','customer'),('ret_b','order'),('ret_b','stream'),
  ('ret_c','hash'),('ret_c','join'),('ret_c','window')) t(query_id, term)),
vocab AS (SELECT DISTINCT term FROM qt),
p AS (
  SELECT doc_id, len(w)::BIGINT AS dl, term,
         len(list_filter(w, x -> x = term))::BIGINT AS tf
  FROM base, vocab
  WHERE list_contains(w, term)
),
dfq AS (SELECT term, count(*)::BIGINT AS df FROM p GROUP BY term),
idf AS (
  SELECT term,
         floor(1000000.0 * ln(1.0 + (nd::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5)))::BIGINT AS idf_u
  FROM dfq, stats
),
sc AS (
  SELECT qt.query_id, p.doc_id,
         sum(floor(idf_u::DOUBLE *
               (tf::DOUBLE * 2.2 /
                (tf::DOUBLE + 1.2 * (0.25 + 0.75 * dl::DOUBLE / (tt::DOUBLE / nd::DOUBLE))))))::BIGINT AS score_u
  FROM p JOIN idf USING (term) JOIN qt USING (term), stats
  GROUP BY 1, 2
),
r AS (
  SELECT query_id, doc_id, score_u,
         row_number() OVER (PARTITION BY query_id ORDER BY score_u DESC, doc_id)::BIGINT AS rk
  FROM sc
)
SELECT query_id, doc_id, score_u, rk FROM r WHERE rk <= 10
"""

    text_blocklist_sql = r"""
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
)
SELECT doc_id,
       len(list_filter(w, x -> list_contains(['slow','error','null'], x)))::BIGINT AS n_hits,
       array_to_string(list_transform(w,
         x -> CASE WHEN list_contains(['slow','error','null'], x) THEN '[X]' ELSE x END),
         ' ') AS scrubbed,
       (len(list_filter(w, x -> list_contains(['slow','error','null'], x))) = 0)::BIGINT AS keep
FROM w
"""

    # same association order as the Spark column — (tf/n) * ((N+1)/(df+1))
    # — so every double is bit-identical and the floor6/tie-break agree
    text_tfidf_sql = r"""
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
),
ex AS (SELECT doc_id, len(w)::BIGINT AS n_tokens, unnest(w) AS word FROM w),
tf AS (
  SELECT doc_id, n_tokens, word, count(*)::BIGINT AS tf
  FROM ex GROUP BY doc_id, n_tokens, word
),
dfq AS (SELECT word, count(*)::BIGINT AS df FROM tf GROUP BY word),
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
scored AS (
  SELECT doc_id, tf.word AS word,
         (tf::DOUBLE / n_tokens::DOUBLE) * ((n.n + 1.0) / (df::DOUBLE + 1.0)) AS score
  FROM tf JOIN dfq ON tf.word = dfq.word CROSS JOIN n
),
r AS (
  SELECT doc_id, word, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rank
  FROM scored
)
SELECT doc_id, word, floor(score * 1000000)/1000000.0 AS score, rank::BIGINT AS rank
FROM r WHERE rank <= 3
"""

    # CCNet-style unigram-surprisal twin. surprisal_u is truncated to
    # integer micro-nats AT THE VOCAB TABLE (floor(1e6*ln(total/cnt))):
    # Spark's and DuckDB's ln() differ by 1 ulp on this host (measured at
    # ln(3.0)), so log-probs must become integers before any sum. All
    # downstream arithmetic is then exact: integer sums, floor(sum/n)
    # (exact for n<=1e12 — the rational is >=1/n from any non-attained
    # integer), and type-7 quantile cuts over integer-valued doubles
    # (interpolated threshold lands on an integer only when computed
    # exactly by both engines).
    text_surprisal_sql = r"""
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
),
ex AS (SELECT doc_id, unnest(w) AS word FROM w),
c AS (SELECT word, count(*)::BIGINT AS cnt FROM ex GROUP BY word),
t AS (SELECT sum(cnt)::DOUBLE AS total FROM c),
v AS (
  SELECT word,
         CAST(floor(ln(total / cnt::DOUBLE) * 1000000.0) AS BIGINT) AS su
  FROM c CROSS JOIN t
),
s AS (
  SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(su)::BIGINT AS sum_u
  FROM ex JOIN v USING (word) GROUP BY doc_id
),
m AS (
  SELECT doc_id, n_tokens, sum_u,
         CAST(floor(sum_u::DOUBLE / n_tokens::DOUBLE) AS BIGINT) AS mean_u
  FROM s
),
q AS (
  SELECT quantile_cont(mean_u::DOUBLE, 1.0/3.0) AS lo,
         quantile_cont(mean_u::DOUBLE, 2.0/3.0) AS hi
  FROM m
)
SELECT doc_id, n_tokens, sum_u, mean_u,
       CASE WHEN mean_u::DOUBLE <= lo THEN 'head'
            WHEN mean_u::DOUBLE <= hi THEN 'middle'
            ELSE 'tail' END AS bucket
FROM m CROSS JOIN q
"""

    # Fellegi-Sunter twin: recomputes the four agreement indicators from
    # the same blocked-pair CTE the pair oracle uses, then RE-SCORES from
    # the committed EM weight fixture (integer micro-bans -> exact
    # integer sums; the fixture checks the scoring math like the SCM
    # dump, while EM itself is pinned by pytest parameter-recovery tests)
    fs_cte = (
        SQL_PAIRS
        + f"""
, attrs AS (
  SELECT doc_id::BIGINT AS doc_id, lang, source, n_chars // 128 AS lb
  FROM documents
),
g AS (
  SELECT id1, id2, sim,
         CASE WHEN a1.lang = a2.lang THEN 1 ELSE 0 END AS g_lang,
         CASE WHEN a1.source = a2.source THEN 1 ELSE 0 END AS g_source,
         CASE WHEN sim >= 0.5 THEN 1 ELSE 0 END AS g_sim,
         CASE WHEN a1.lb = a2.lb THEN 1 ELSE 0 END AS g_len
  FROM pairs
  JOIN attrs a1 ON pairs.id1 = a1.doc_id
  JOIN attrs a2 ON pairs.id2 = a2.doc_id
),
w AS (SELECT * FROM read_parquet('{FS_FIXTURE}')),
fsscored AS (
  SELECT id1, id2, sim,
         g_lang::BIGINT AS g_lang, g_source::BIGINT AS g_source,
         g_sim::BIGINT AS g_sim, g_len::BIGINT AS g_len,
         (  CASE WHEN g_lang = 1
                 THEN (SELECT agree_w FROM w WHERE field = 'lang')
                 ELSE (SELECT disagree_w FROM w WHERE field = 'lang') END
          + CASE WHEN g_source = 1
                 THEN (SELECT agree_w FROM w WHERE field = 'source')
                 ELSE (SELECT disagree_w FROM w WHERE field = 'source') END
          + CASE WHEN g_sim = 1
                 THEN (SELECT agree_w FROM w WHERE field = 'sim')
                 ELSE (SELECT disagree_w FROM w WHERE field = 'sim') END
          + CASE WHEN g_len = 1
                 THEN (SELECT agree_w FROM w WHERE field = 'len')
                 ELSE (SELECT disagree_w FROM w WHERE field = 'len') END
         )::BIGINT AS score_u
  FROM g
)
"""
    )
    fs_scored_sql = (
        fs_cte
        + "SELECT id1, id2, g_lang, g_source, g_sim, g_len, score_u FROM fsscored"
    )
    # FS match twin: per-side rank-1 windows ordered by (score_u desc,
    # sim desc, partner id) — same shape as the mutual-best oracle
    fs_match_sql = (
        fs_cte
        + """
, fsranked AS (
  SELECT id1, id2, score_u, sim,
         row_number() OVER (PARTITION BY id1
                            ORDER BY score_u DESC, sim DESC, id2 ASC) AS r1,
         row_number() OVER (PARTITION BY id2
                            ORDER BY score_u DESC, sim DESC, id1 ASC) AS r2
  FROM fsscored
)
SELECT id1, id2, score_u, sim FROM fsranked WHERE r1 = 1 AND r2 = 1
"""
    )

    # FS clusters twin: transitive closure of positive-evidence FS
    # mutual-best pairs via the same recursive-CTE walk as pprl_clusters
    fs_clusters_sql = (
        fs_cte.replace("WITH grams", "WITH RECURSIVE grams", 1)
        + """
, fsranked AS (
  SELECT id1, id2, score_u,
         row_number() OVER (PARTITION BY id1
                            ORDER BY score_u DESC, sim DESC, id2 ASC) AS r1,
         row_number() OVER (PARTITION BY id2
                            ORDER BY score_u DESC, sim DESC, id1 ASC) AS r2
  FROM fsscored
),
m AS (SELECT id1, id2 FROM fsranked WHERE r1 = 1 AND r2 = 1 AND score_u > 0),
edges AS (SELECT id1 AS u, id2 AS v FROM m UNION SELECT id2, id1 FROM m),
nodes AS (SELECT DISTINCT u AS n FROM edges),
walk(n, lbl) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.n
)
SELECT n::BIGINT AS doc_id, min(lbl)::BIGINT AS entity_id FROM walk GROUP BY n
"""
    )

    # edit-distance twin over the shared pair CTE; DuckDB levenshtein
    # returns the same integer DP distance as Spark's built-in
    edit_pairs_sql = (
        SQL_PAIRS
        + r"""
, t AS (
  SELECT doc_id::BIGINT AS doc_id,
         array_to_string(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                     x -> x <> '')[1:12], ' ') AS t12
  FROM documents
),
sampled AS (
  SELECT id1, id2, sim FROM pairs
  WHERE sim >= 0.5 AND (id1 * 1000003 + id2) % 7 = 0
)
SELECT s.id1, s.id2, s.sim,
       levenshtein(a.t12, b.t12)::BIGINT AS edit_dist,
       CASE WHEN greatest(length(a.t12), length(b.t12)) = 0 THEN 1.0
            ELSE 1.0 - levenshtein(a.t12, b.t12)::DOUBLE
                 / greatest(length(a.t12), length(b.t12))::DOUBLE END AS edit_sim
FROM sampled s JOIN t a ON s.id1 = a.doc_id JOIN t b ON s.id2 = b.doc_id
"""
    )

    # cross-media twin: the lifted text serialization is injective in
    # (lang, n_chars) and the injected media ref in source, so the
    # oracle groups by the raw fields directly
    spans_cross_media_sql = r"""
WITH g AS (
  SELECT lang, n_chars,
         min(doc_id)::BIGINT AS text_canonical_id,
         count(*)::BIGINT AS n_text_copies,
         count(DISTINCT source)::BIGINT AS n_media_variants
  FROM documents GROUP BY lang, n_chars
)
SELECT d.doc_id::BIGINT AS doc_id, g.text_canonical_id,
       g.n_text_copies, g.n_media_variants
FROM documents d JOIN g USING (lang, n_chars)
WHERE g.n_text_copies > 1 AND g.n_media_variants > 1
"""

    # PII scrub twin: identical deterministic injection from doc_id
    # arithmetic, patterns shared verbatim with the Spark side
    # (PII_PATTERNS — ASCII-only syntax Java regex and RE2 agree on),
    # counts on the original text, sequential global replaces in the
    # same fixed order.
    from pprl_spark.functions.text import PII_PATTERNS as _PII

    _scrub_expr = "lower(t)"
    for _, _pat, _tok in _PII:
        _scrub_expr = f"regexp_replace({_scrub_expr}, '{_pat}', '{_tok}', 'g')"
    _count_cols = ",\n       ".join(
        f"len(regexp_extract_all(lower(t), '{_pat}'))::BIGINT AS n_{_name}"
        for _name, _pat, _ in _PII
    )
    text_pii_scrub_sql = f"""
WITH aug AS (
  SELECT doc_id::BIGINT AS doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' mail u' || doc_id::VARCHAR || '@ex.org' ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' ip 10.' || (doc_id % 256)::VARCHAR || '.0.'
                      || (doc_id % 100)::VARCHAR ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' tel 555-123-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                 ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       {_count_cols},
       {_scrub_expr} AS scrubbed
FROM aug
"""

    # as-of join twin: DuckDB's native ASOF LEFT JOIN; the right side is
    # pre-deduplicated to max(event_id) per (user, ts) — the Spark
    # operator's documented tie rule — so both engines pick the same row
    # when several right events share a timestamp.
    events_asof_sql = r"""
WITH r AS (
  SELECT user_id, ts, event_id, value
  FROM events WHERE event_type = 'error'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
),
l AS (
  SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'view'
)
SELECT l.event_id, l.user_id, l.ts, l.value,
       coalesce(r.event_id, -1) AS asof_event_id,
       coalesce(r.ts, TIMESTAMP '1970-01-01 00:00:00') AS asof_ts,
       coalesce(r.value, -1.0) AS asof_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""

    # blocking-diagnostics twin over the shared blocks CTE
    block_stats_sql = (
        SQL_BLOCKS
        + """
, sizes AS (SELECT block_key, count(*)::BIGINT AS size FROM blocks GROUP BY block_key),
top AS (
  SELECT block_key, size, ((size * (size - 1)) // 2)::BIGINT AS pairs,
         (-1)::BIGINT AS n_blocks,
         row_number() OVER (ORDER BY size DESC, block_key)::BIGINT AS rank
  FROM sizes ORDER BY size DESC, block_key LIMIT 20
),
tot AS (
  SELECT '<all>' AS block_key, sum(size)::BIGINT AS size,
         sum((size * (size - 1)) // 2)::BIGINT AS pairs,
         count(*)::BIGINT AS n_blocks, 0::BIGINT AS rank
  FROM sizes
)
SELECT * FROM top UNION ALL SELECT * FROM tot
"""
    )

    # range-join twin: the declarative BETWEEN form (DuckDB plans its
    # own IEJoin); delta in exact integer microseconds both sides
    events_range_join_sql = r"""
SELECT l.event_id, l.user_id, l.ts,
       r.event_id AS r_event_id, r.ts AS r_ts, r.value AS r_value,
       (epoch_us(r.ts) - epoch_us(l.ts))::BIGINT AS delta_us
FROM (SELECT * FROM events WHERE event_type = 'view') l
JOIN (SELECT * FROM events WHERE event_type = 'error') r
  ON l.user_id = r.user_id
 AND r.ts BETWEEN l.ts - INTERVAL 6 HOUR AND l.ts + INTERVAL 6 HOUR
"""

    # pivot twin: conditional aggregation longhand
    _ptypes = ["click", "error", "purchase", "signup", "view"]
    _pcols = ", ".join(
        f"count(*) FILTER (event_type = '{t}')::BIGINT AS n_{t}, "
        f"coalesce(sum(floor(value * 1000000)) FILTER (event_type = '{t}'), 0)::BIGINT AS v_{t}"
        for t in _ptypes
    )
    events_pivot_sql = f"""
SELECT user_id::BIGINT AS user_id,
       {_pcols}
FROM events GROUP BY user_id
"""

    # rollup twin: same three grouping-set levels; n_tokens/n_chars are
    # computed from text in both engines (not the stored n_chars column,
    # which counts pre-normalization characters)
    corpus_rollup_sql = r"""
SELECT CASE WHEN grouping(lang) = 1 THEN '<all>' ELSE lang END AS lang_g,
       CASE WHEN grouping(source) = 1 THEN '<all>' ELSE source END AS source_g,
       (grouping(lang) * 2 + grouping(source))::BIGINT AS gid,
       count(*)::BIGINT AS n_docs,
       sum(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                           x -> x <> '')))::BIGINT AS n_tokens,
       sum(length(text))::BIGINT AS n_chars
FROM documents
GROUP BY ROLLUP (lang, source)
"""

    # interleaved-synth CTE shared by the spans_chunked / spans_modality
    # twins: 8-token segments + image span after every odd segment,
    # rebuilt from documents.text with 1-based inclusive list slices
    _interleaved_cte = r"""
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
),
base AS (
  SELECT doc_id, w, len(w) AS n, (len(w) + 7) // 8 AS nseg
  FROM w WHERE len(w) > 0
),
sp AS (
  SELECT doc_id, nseg, n,
         flatten([
           CASE WHEN i % 2 = 1 THEN
             [struct_pack(kind := 'text',
                          cost := len(w[i*8+1 : i*8+8])::BIGINT,
                          o := (2*i)::BIGINT),
              struct_pack(kind := 'image', cost := 16::BIGINT,
                          o := (2*i+1)::BIGINT)]
           ELSE
             [struct_pack(kind := 'text',
                          cost := len(w[i*8+1 : i*8+8])::BIGINT,
                          o := (2*i)::BIGINT)]
           END
           FOR i IN range(0, nseg)]) AS sp
  FROM base
)"""

    # the greedy fold steps span-by-span in a scalar recursive CTE
    # (depth = max spans per doc). DuckDB 1.0's list_reduce with a
    # struct accumulator is NOT usable here: the appended a.chunk+1 and
    # the chunk field of the same struct_pack disagree (observed
    # assign=[0,0,1,1,3,2] with final chunk=2), and the branch-free
    # rewrite collapses the accumulated list to its last element —
    # scalar-state recursion sidesteps both.
    spans_chunked_sql = (
        _interleaved_cte.replace("WITH w AS", "WITH RECURSIVE w AS", 1)
        + r""",
rec AS (
  SELECT doc_id, 1 AS i, 0::BIGINT AS chunk, (sp[1]).cost::BIGINT AS used
  FROM sp
  UNION ALL
  SELECT r.doc_id, r.i + 1,
         CASE WHEN r.used + (s.sp[r.i+1]).cost > 24 AND r.used > 0
              THEN r.chunk + 1 ELSE r.chunk END,
         CASE WHEN r.used + (s.sp[r.i+1]).cost > 24 AND r.used > 0
              THEN (s.sp[r.i+1]).cost::BIGINT
              ELSE r.used + (s.sp[r.i+1]).cost END
  FROM rec r JOIN sp s USING (doc_id)
  WHERE r.i < len(s.sp)
)
SELECT r.doc_id, (s.sp[r.i]).o AS offset, (s.sp[r.i]).kind AS kind,
       (s.sp[r.i]).cost AS cost, r.chunk AS chunk_id
FROM rec r JOIN sp s USING (doc_id)
"""
    )

    spans_modality_sql = (
        _interleaved_cte
        + r"""
SELECT doc_id,
       (nseg + nseg // 2)::BIGINT AS n_spans,
       nseg::BIGINT AS n_text_spans,
       (nseg // 2)::BIGINT AS n_media_spans,
       n::BIGINT AS n_text_tokens,
       CASE WHEN nseg // 2 > 0 THEN 'image' ELSE '' END AS media_kinds,
       nseg::DOUBLE / (nseg + nseg // 2)::DOUBLE AS text_span_share
FROM sp
"""
    )

    # media-audit twin: same interleaved synth; store rebuilt from the
    # odd-segment range directly (ref strings are exactly the odd i's)
    spans_media_audit_sql = (
        _interleaved_cte
        + r""",
mi AS (SELECT doc_id, unnest(range(0, nseg)) AS i FROM base),
refs AS (
  SELECT doc_id, 'img://' || doc_id || '/' || i AS ref, i
  FROM mi WHERE i % 2 = 1
),
store AS (
  SELECT ref, sha256('p' || ((doc_id * 31 + i) % 1000)::VARCHAR) AS h
  FROM refs WHERE (doc_id + i) % 3 <> 0
),
pc AS (SELECT h, count(DISTINCT ref)::BIGINT AS n FROM store GROUP BY h),
st AS (SELECT store.ref, (pc.n > 1) AS shared FROM store JOIN pc USING (h))
SELECT r.doc_id,
       count(*)::BIGINT AS n_media_refs,
       sum(CASE WHEN st.ref IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_orphan_refs,
       sum(CASE WHEN coalesce(st.shared, false) THEN 1 ELSE 0 END)::BIGINT AS n_shared_refs
FROM refs r LEFT JOIN st ON st.ref = r.ref
GROUP BY 1
"""
    )

    # split twin: spliced cc + identical sha256 entity-hash thresholds
    _split_hash = "('0x' || substring(sha256('5:' || entity_id::VARCHAR), 1, 15))::BIGINT % 1000000"
    dedup_split_sql = (
        dedup_clusters_sql.replace(
            "SELECT n::BIGINT AS doc_id, min(lbl)::BIGINT AS entity_id FROM walk GROUP BY n",
            ", cc AS (SELECT n::BIGINT AS doc_id, min(lbl)::BIGINT AS entity_id FROM walk GROUP BY n)",
            1,
        )
        + f"""
, alldocs AS (SELECT doc_id::BIGINT AS doc_id FROM documents),
asg AS (
  SELECT a.doc_id, coalesce(cc.entity_id, a.doc_id)::BIGINT AS entity_id
  FROM alldocs a LEFT JOIN cc ON cc.doc_id = a.doc_id
)
SELECT doc_id, entity_id,
       CASE WHEN {_split_hash} < 800000 THEN 'train'
            WHEN {_split_hash} < 900000 THEN 'valid'
            ELSE 'test' END AS split
FROM asg
"""
    )

    # recall-report twin: banded pairs (same scored CTE) counted against
    # the naive lossless join over the same shingle sets
    dedup_recall_sql = dedup_minhash_sql.replace(
        "SELECT id1, id2, floor(j * 1000000)/1000000.0 AS jaccard FROM scored WHERE j >= 0.4",
        """, banded AS (SELECT id1, id2 FROM scored WHERE j >= 0.4),
tok AS (SELECT doc_id, unnest(sh) AS tk FROM sh),
sizes AS (SELECT doc_id, len(sh)::BIGINT AS n FROM sh WHERE len(sh) > 0),
qp AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*)::BIGINT AS inter
  FROM tok a JOIN tok b USING (tk) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT id1, id2
  FROM qp JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
  WHERE inter * 5 >= (s1.n + s2.n - inter) * 2
),
e AS (SELECT count(*)::BIGINT AS n_exact FROM exact),
bd AS (SELECT count(*)::BIGINT AS n_banded FROM banded),
h AS (SELECT count(*)::BIGINT AS n_hit FROM banded JOIN exact USING (id1, id2))
SELECT n_exact, n_banded, n_hit, (n_exact - n_hit)::BIGINT AS n_missed,
       CASE WHEN n_exact > 0 THEN n_hit::DOUBLE / n_exact::DOUBLE ELSE 1.0 END AS recall
FROM e, bd, h""",
        1,
    )

    # pagerank twin: the fixed-point power iteration UNROLLED as chained
    # CTEs generated by the same loop constants as the operator
    # (iterations=5, damping 85/100, scale 10^12) — pure integer
    # multiply/intdiv/sum per step, so DuckDB reproduces Spark's BIGINTs
    # bit-for-bit regardless of summation order
    _pr_scale, _pr_damp, _pr_iters = 10**12, 85, 5
    _pr_cte = """pedges AS (SELECT id1 AS u, id2 AS v FROM nd
           UNION ALL SELECT id2, id1 FROM nd),
pdeg AS (SELECT u, count(*)::BIGINT AS d FROM pedges GROUP BY u),
pnodes AS (SELECT DISTINCT u FROM pedges),
pnn AS (SELECT count(*)::BIGINT AS n FROM pnodes),
pr0 AS (SELECT u, ({scale} // n)::BIGINT AS v FROM pnodes, pnn)""".format(
        scale=_pr_scale
    )
    for _t in range(1, _pr_iters + 1):
        _pr_cte += """,
pr{t} AS (
  SELECT nd2.u,
         ({base_num} // (100 * pnn.n) + coalesce(s.c, 0))::BIGINT AS v
  FROM pnodes nd2
  LEFT JOIN (
    SELECT e.v AS node, sum((p.v * {damp}) // (100 * pdeg.d))::BIGINT AS c
    FROM pedges e JOIN pr{p} p ON p.u = e.u JOIN pdeg ON pdeg.u = e.u
    GROUP BY e.v
  ) s ON s.node = nd2.u, pnn
)""".format(
            t=_t, p=_t - 1, base_num=_pr_scale * (100 - _pr_damp), damp=_pr_damp
        )
    graph_pagerank_sql = dedup_clusters_sql.replace(
        """edges AS (SELECT id1 AS u, id2 AS v FROM nd UNION SELECT id2, id1 FROM nd),
nodes AS (SELECT DISTINCT u AS n FROM edges),
walk(n, lbl) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT e.u, w2.lbl FROM edges e JOIN walk w2 ON e.v = w2.n
)
SELECT n::BIGINT AS doc_id, min(lbl)::BIGINT AS entity_id FROM walk GROUP BY n
""",
        _pr_cte
        + f"""
SELECT pr{_pr_iters}.u::BIGINT AS doc_id, pdeg.d AS deg, pr{_pr_iters}.v AS pr_u,
       pr{_pr_iters}.v::DOUBLE / {float(_pr_scale)} AS pr
FROM pr{_pr_iters} JOIN pdeg USING (u)
""",
        1,
    )

    # pagerank-canonical twin: cc walk AND the unrolled power iteration
    # spliced over the SAME nd pair CTE, per-entity argmax by (pr_u, id)
    dedup_canonical_pr_sql = (
        dedup_clusters_sql.replace(
            "SELECT n::BIGINT AS doc_id, min(lbl)::BIGINT AS entity_id FROM walk GROUP BY n",
            ", cc AS (SELECT n::BIGINT AS doc_id, min(lbl)::BIGINT AS entity_id FROM walk GROUP BY n)",
            1,
        )
        + ",\n"
        + _pr_cte
        + f""",
ranked AS (
  SELECT cc.entity_id, cc.doc_id, p.v AS pr_u,
         row_number() OVER (PARTITION BY cc.entity_id
                            ORDER BY p.v DESC, cc.doc_id ASC) AS r,
         count(*) OVER (PARTITION BY cc.entity_id) AS n_members
  FROM cc JOIN pr{_pr_iters} p ON p.u = cc.doc_id
)
SELECT entity_id::BIGINT AS entity_id, doc_id::BIGINT AS canonical_id,
       n_members::BIGINT AS n_members, pr_u
FROM ranked WHERE r = 1
"""
    )

    # divergence twin: identical (1e6 * p) * ln(p/q) tree, floored
    # micro-nat terms summed as integers
    corpus_divergence_sql = r"""
WITH wx AS (
  SELECT source AS g,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS w
  FROM documents
),
per AS (SELECT g, w, count(*)::BIGINT AS n_gw FROM wx GROUP BY 1, 2),
tg AS (SELECT g, sum(n_gw)::BIGINT AS n_g FROM per GROUP BY 1),
cw AS (SELECT w, sum(n_gw)::BIGINT AS n_w FROM per GROUP BY 1),
na AS (SELECT sum(n_gw)::BIGINT AS n_all FROM per),
t AS (
  SELECT per.g, tg.n_g,
         floor(1000000.0 * (per.n_gw::DOUBLE / tg.n_g::DOUBLE)
               * ln((per.n_gw::DOUBLE / tg.n_g::DOUBLE)
                    / (cw.n_w::DOUBLE / na.n_all::DOUBLE)))::BIGINT AS tu
  FROM per JOIN cw USING (w) JOIN tg USING (g), na
)
SELECT g AS source, n_g AS n_tokens, count(*)::BIGINT AS vocab_size,
       sum(tu)::BIGINT AS kl_u, sum(tu)::DOUBLE / 1000000.0 AS kl
FROM t GROUP BY 1, 2
"""

    return {
        "vocab_topk": vocab_topk_sql,
        "corpus_divergence": corpus_divergence_sql,
        "text_surprisal": text_surprisal_sql,
        "pprl_fs_scored": fs_scored_sql,
        "pprl_fs_match": fs_match_sql,
        "pprl_fs_clusters": fs_clusters_sql,
        "spans_cross_media": spans_cross_media_sql,
        "pprl_edit_pairs": edit_pairs_sql,
        "text_pii_scrub": text_pii_scrub_sql,
        "events_asof": events_asof_sql,
        "events_range_join": events_range_join_sql,
        "events_pivot": events_pivot_sql,
        "pprl_block_stats": block_stats_sql,
        "pprl_kanon": kanon_sql,
        # dice twin: same blocks CTE and pair join, Dice normalization
        "pprl_dice_pairs": (
            SQL_BLOCKS
            + """
, pairs AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
         round(2.0 * len(list_intersect(l.bf, r.bf))::DOUBLE
               / (len(l.bf) + len(r.bf))::DOUBLE, 6) AS sim
  FROM blocks l JOIN blocks r USING (block_key)
  WHERE l.doc_id < r.doc_id
)
SELECT id1, id2, sim FROM pairs
"""
        ),
        # suppression twin: same blocks CTE, sub-k blocks dropped before
        # the identical pair scoring
        "pprl_suppressed_pairs": (
            SQL_BLOCKS
            + """
, bs AS (SELECT block_key, count(*)::BIGINT AS n FROM blocks GROUP BY 1),
kept AS (SELECT b.* FROM blocks b JOIN bs USING (block_key) WHERE bs.n >= 5),
pairs AS (
  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
         round(len(list_intersect(l.bf, r.bf))::DOUBLE
               / (sqrt(len(l.bf)) * sqrt(len(r.bf))), 6) AS sim
  FROM kept l JOIN kept r USING (block_key)
  WHERE l.doc_id < r.doc_id
)
SELECT id1, id2, sim FROM pairs
"""
        ),
        "corpus_rollup": corpus_rollup_sql,
        "text_decontaminate": text_decontaminate_sql,
        "text_dup_spans": text_dup_spans_sql,
        "text_bm25": text_bm25_sql,
        "text_blocklist": text_blocklist_sql,
        "text_tfidf": text_tfidf_sql,
        "dedup_embedding": dedup_embedding_sql,
        "dedup_semantic": dedup_semantic_sql,
        "dedup_recall_report": dedup_recall_sql,
        "dedup_snm_pairs": dedup_snm_sql,
        "dedup_split": dedup_split_sql,
        "dedup_canonical_pr": dedup_canonical_pr_sql,
        "dedup_ngram_jaccard": dedup_ngram_sql,
        "pprl_skipgrams": skipgrams_sql,
        "features_native": features_native_sql,
        "text_jaro_winkler": jw_sql,
        "pprl_jw_pairs": jw_pairs_sql,
        "dedup_minhash": dedup_minhash_sql,
        # exact set-similarity join: the naive quadratic join IS the
        # oracle (prefix filtering must be lossless), with the identical
        # integer-rational threshold comparison (t=0.4 -> inter*5 >= union*2)
        "dedup_setjoin": (
            sh_cte
            + """,
tok AS (SELECT doc_id, unnest(sh) AS tk FROM sh),
sizes AS (SELECT doc_id, len(sh)::BIGINT AS n FROM sh WHERE len(sh) > 0),
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*)::BIGINT AS inter
  FROM tok a JOIN tok b USING (tk) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2, s1.n AS n1, s2.n AS n2, inter AS intersection,
       floor((inter::DOUBLE / (s1.n + s2.n - inter)) * 1000000)/1000000.0 AS jaccard
FROM pairs JOIN sizes s1 ON s1.doc_id = id1 JOIN sizes s2 ON s2.doc_id = id2
WHERE inter * 5 >= (s1.n + s2.n - inter) * 2
"""
        ),
        # containment: the naive probe x target join IS the oracle —
        # same rational comparison (0.6 -> inter*5 >= n_probe*3)
        "dedup_containment": (
            sh_cte
            + """,
tok AS (SELECT doc_id, unnest(sh) AS tk FROM sh),
sizes AS (SELECT doc_id, len(sh)::BIGINT AS n FROM sh WHERE len(sh) > 0),
pairs AS (
  SELECT a.doc_id AS probe_id, b.doc_id AS target_id, count(*)::BIGINT AS inter
  FROM tok a JOIN tok b USING (tk)
  WHERE a.doc_id % 20 = 0 AND b.doc_id % 20 != 0
  GROUP BY 1, 2
)
SELECT probe_id, target_id, s1.n AS n_probe, s2.n AS n_target, inter AS intersection,
       floor((inter::DOUBLE / s1.n::DOUBLE) * 1000000)/1000000.0 AS containment
FROM pairs
JOIN sizes s1 ON s1.doc_id = probe_id
JOIN sizes s2 ON s2.doc_id = target_id
WHERE inter * 5 >= s1.n * 3
"""
        ),
        # the delta probe's contract: identical pairs to the full
        # recompute, restricted to >= 1 delta endpoint
        "dedup_delta": dedup_minhash_sql.replace(
            "WHERE j >= 0.4",
            "WHERE j >= 0.4 AND (id1 % 5 = 0 OR id2 % 5 = 0)",
            1,
        ),
        "dedup_simhash": dedup_simhash_sql,
        "pprl_metaphone": metaphone_sql,
        "pprl_scm_scored": scm_scored_sql,
        "pprl_assignment": assignment_sql,
        "pprl_tokenize_bigrams": grams_exploded,
        "pprl_bloom_embed": bloom_embed,
        "pprl_bloom_stats": bloom_stats,
        "pprl_minhash_blocks": blocks_sql,
        "pprl_score_pairs": pairs_sql,
        "pprl_thresholds": thresholds_sql,
        "pprl_threshold_sweep": threshold_sweep_sql,
        "pprl_review_pairs": review_pairs_sql,
        "pprl_blocking_eval": blocking_eval_sql,
        "pprl_mutual_best_match": mutual_sql,
        "pprl_clusters": clusters_sql,
        "dedup_exact": dedup_exact_sql,
        # the serialized span sequence is injective in (lang, source,
        # n_chars) for this construction, so the oracle groups by the
        # raw triple (NULL-free corpus; the engine coalesces nulls to '')
        "spans_exact_dedup": """
WITH canon AS (
  SELECT lang, source, n_chars,
         min(doc_id::BIGINT) AS canonical_id, count(*)::BIGINT AS n_copies
  FROM documents GROUP BY lang, source, n_chars HAVING count(*) > 1
)
SELECT d.doc_id::BIGINT AS doc_id, c.canonical_id, c.n_copies
FROM documents d JOIN canon c USING (lang, source, n_chars)
""",
        "dedup_clusters": dedup_clusters_sql,
        # the incremental-maintenance query must equal the full-graph
        # recompute — the SAME oracle pins that equivalence
        "delta_clusters": dedup_clusters_sql,
        # wrap the full-recompute clusters query: splice its final SELECT
        # into one more CTE, then histogram entity sizes
        "dedup_cluster_sizes": (
            dedup_clusters_sql.replace(
                "SELECT n::BIGINT AS doc_id, min(lbl)::BIGINT AS entity_id FROM walk GROUP BY n",
                ", cc AS (SELECT n::BIGINT AS doc_id, min(lbl)::BIGINT AS entity_id"
                " FROM walk GROUP BY n) "
                "SELECT cluster_size, count(*)::BIGINT AS n_clusters FROM ("
                "SELECT entity_id, count(*)::BIGINT AS cluster_size FROM cc"
                " GROUP BY entity_id) GROUP BY cluster_size",
                1,
            )
        ),
        "dedup_canonical": dedup_canonical_sql,
        # bigram conditional-surprisal LM twin: identical micro-nat
        # floor at the vocab table, window context totals, integer sums
        "text_bigram_lm": r"""
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(w) < 2 THEN []::VARCHAR[]
                     ELSE [array_to_string(w[i:i+1], ' ') FOR i IN range(1, len(w))]
                END) AS bigram
  FROM w
),
counts AS (SELECT bigram, count(*)::BIGINT AS cnt FROM bg GROUP BY bigram),
vocab AS (
  SELECT bigram, cnt,
         sum(cnt) OVER (PARTITION BY string_split(bigram, ' ')[1])::BIGINT AS ctx_cnt
  FROM counts
),
sv AS (
  SELECT bigram,
         floor(ln(ctx_cnt::DOUBLE / cnt::DOUBLE) * 1000000)::BIGINT AS surprisal_b
  FROM vocab
),
scored AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(surprisal_b)::BIGINT AS sum_b
  FROM bg JOIN sv USING (bigram) GROUP BY doc_id
)
SELECT doc_id, n_bigrams, sum_b,
       floor(sum_b::DOUBLE / n_bigrams::DOUBLE)::BIGINT AS mean_b
FROM scored
""",
        # PMI collocations twin: same bigram CTE, window marginals,
        # double-arithmetic ratio ((N*c12)/(cl*cr) — three correctly
        # rounded ops, overflow-free), micro-nat floor, ordered top-50
        "vocab_pmi": r"""
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
),
bg AS (
  SELECT unnest(CASE WHEN len(w) < 2 THEN []::VARCHAR[]
                     ELSE [array_to_string(w[i:i+1], ' ') FOR i IN range(1, len(w))]
                END) AS bigram
  FROM w
),
counts AS (SELECT bigram, count(*)::BIGINT AS cnt FROM bg GROUP BY bigram),
marg AS (
  SELECT bigram, cnt,
         sum(cnt) OVER (PARTITION BY string_split(bigram, ' ')[1])::BIGINT AS c_left,
         sum(cnt) OVER (PARTITION BY string_split(bigram, ' ')[2])::BIGINT AS c_right
  FROM counts
),
tot AS (SELECT sum(cnt)::DOUBLE AS n FROM counts)
SELECT bigram, cnt, c_left, c_right,
       floor(ln((tot.n * cnt::DOUBLE) / (c_left::DOUBLE * c_right::DOUBLE)) * 1000000)::BIGINT AS pmi_u
FROM marg, tot
WHERE cnt >= 3
ORDER BY pmi_u DESC, bigram ASC
LIMIT 50
""",
        # cohort matrix twin: identical ISO-week truncation + DIV 7
        "events_cohorts": """
WITH cohort AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY 1
),
act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events)
SELECT cohort_week, (datediff('day', cohort_week::DATE, aw::DATE) // 7)::BIGINT AS week_offset,
       count(DISTINCT a.user_id)::BIGINT AS n_users
FROM act a JOIN cohort c USING (user_id)
GROUP BY 1, 2
""",
        # iterative CTE funnel twin: min-agg + conditional-min per step
        "events_funnel": """
WITH s1 AS (
  SELECT user_id::BIGINT AS user_id, min(ts) AS t_1
  FROM events WHERE event_type = 'view' GROUP BY 1
),
s2 AS (
  SELECT s1.user_id, t_1,
         min(CASE WHEN e.ts > t_1 AND e.ts <= t_1 + INTERVAL 1 HOUR THEN e.ts END) AS t_2
  FROM s1 LEFT JOIN events e ON e.user_id = s1.user_id AND e.event_type = 'click'
  GROUP BY 1, 2
),
s3 AS (
  SELECT s2.user_id, t_1, t_2,
         min(CASE WHEN e.ts > t_2 AND e.ts <= t_2 + INTERVAL 1 HOUR THEN e.ts END) AS t_3
  FROM s2 LEFT JOIN events e ON e.user_id = s2.user_id AND e.event_type = 'purchase'
  GROUP BY 1, 2, 3
)
SELECT user_id, t_1,
       coalesce(t_2, TIMESTAMP '1970-01-01 00:00:00') AS t_2,
       coalesce(t_3, TIMESTAMP '1970-01-01 00:00:00') AS t_3,
       (1 + (t_2 IS NOT NULL)::INT + (t_3 IS NOT NULL)::INT)::BIGINT AS stage
FROM s3
""",
        # own-soundex twin: fold generated from the same digit table /
        # spec as the Spark expression (functions/phonetic.py)
        "pprl_soundex": (
            r"""
WITH w AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS w
  FROM documents
),
e0 AS (
  SELECT doc_id,
         unnest([{'p': i - 1, 'word': w[i]} FOR i IN range(1, least(len(w), 3) + 1)]) AS u
  FROM w
),
e AS (SELECT doc_id, u.p::BIGINT AS pos, u.word AS word FROM e0)
SELECT doc_id, pos, """
            + soundex_sql("word")
            + " AS sx FROM e"
        ),
        # Morton key twin GENERATED from the same bit-term loop as the
        # Spark expression (functions/layout.py) — the two cannot drift
        "layout_zorder": (
            "SELECT doc_id::BIGINT AS doc_id, n_chars::BIGINT AS n_chars, "
            + zorder_key_sql("doc_id", "n_chars", 16)
            + "::BIGINT AS zkey FROM documents"
        ),
        # identical integer bucket arithmetic over the same bounds
        "corpus_histogram": """
WITH b AS (SELECT min(n_chars)::BIGINT AS lo, max(n_chars)::BIGINT AS hi FROM documents)
SELECT ((n_chars - lo) * 16 // (hi - lo + 1))::BIGINT AS bucket,
       count(*)::BIGINT AS n_rows,
       min(n_chars)::BIGINT AS lo_v, max(n_chars)::BIGINT AS hi_v
FROM documents, b GROUP BY 1
""",
        # per-column UNION ALL longhand of the single-pass profile
        "corpus_profile": "\nUNION ALL\n".join(
            f"""SELECT '{c}' AS col_name, count(*)::BIGINT AS n_rows,
       sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       count(DISTINCT {c})::BIGINT AS n_distinct,
       min({c})::VARCHAR AS min_val, max({c})::VARCHAR AS max_val
FROM documents"""
            for c in ["doc_id", "text", "lang", "source", "n_chars"]
        ),
        # density twin: splice cc, count pairs per entity, exact C(n,2)
        "dedup_cluster_density": (
            dedup_clusters_sql.replace(
                "SELECT n::BIGINT AS doc_id, min(lbl)::BIGINT AS entity_id FROM walk GROUP BY n",
                """, cc AS (SELECT n::BIGINT AS doc_id, min(lbl)::BIGINT AS entity_id
 FROM walk GROUP BY n),
sizes AS (SELECT entity_id, count(*)::BIGINT AS n_members FROM cc GROUP BY 1),
ew AS (
  SELECT cc.entity_id, count(*)::BIGINT AS n_edges
  FROM nd JOIN cc ON cc.doc_id = nd.id1 GROUP BY 1
)
SELECT s.entity_id, n_members, n_edges,
       n_edges::DOUBLE / ((n_members * (n_members - 1)) // 2)::DOUBLE AS density
FROM sizes s JOIN ew USING (entity_id)""",
                1,
            )
        ),
        # source-matrix twin: same pair CTE + documents dim join
        "dedup_source_matrix": (
            dedup_minhash_sql.replace(
                "SELECT id1, id2, floor(j * 1000000)/1000000.0 AS jaccard FROM scored WHERE j >= 0.4",
                """SELECT least(d1.source, d2.source) AS source_a,
       greatest(d1.source, d2.source) AS source_b,
       count(*)::BIGINT AS n_pairs
FROM scored
JOIN documents d1 ON d1.doc_id = id1
JOIN documents d2 ON d2.doc_id = id2
WHERE j >= 0.4
GROUP BY 1, 2""",
                1,
            )
        ),
        # triangle twin: ID-ordered triple join over the same near-dup
        # pair CTE (count is orientation-independent)
        "graph_triangles": (
            dedup_clusters_sql.replace(
                """edges AS (SELECT id1 AS u, id2 AS v FROM nd UNION SELECT id2, id1 FROM nd),
nodes AS (SELECT DISTINCT u AS n FROM edges),
walk(n, lbl) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT e.u, w2.lbl FROM edges e JOIN walk w2 ON e.v = w2.n
)
SELECT n::BIGINT AS doc_id, min(lbl)::BIGINT AS entity_id FROM walk GROUP BY n
""",
                """tri AS (
  SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
  FROM nd e1
  JOIN nd e2 ON e2.id1 = e1.id1 AND e2.id2 > e1.id2
  JOIN nd e3 ON e3.id1 = e1.id2 AND e3.id2 = e2.id2
),
members AS (
  SELECT a AS doc_id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT doc_id::BIGINT AS doc_id, count(*)::BIGINT AS n_triangles
FROM members GROUP BY doc_id
""",
                1,
            )
        ),
        "graph_pagerank": graph_pagerank_sql,
        # pairwise P/R/F1 from contingency-table combinatorics: splice
        # the recursive-CTE clusters into cc, partition truth by the
        # normalized text (identical to the two-hash grouping modulo a
        # 2^-128 collision, same caveat as dedup_exact), then three
        # C(n,2) aggregates — the SQL twin never enumerates pairs either
        "dedup_eval": (
            dedup_clusters_sql.replace(
                "SELECT n::BIGINT AS doc_id, min(lbl)::BIGINT AS entity_id FROM walk GROUP BY n",
                r""", cc AS (SELECT n::BIGINT AS doc_id, min(lbl)::BIGINT AS entity_id
 FROM walk GROUP BY n),
k AS (
  SELECT doc_id::BIGINT AS doc_id,
         array_to_string(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                     w -> w <> ''), ' ') AS norm_text
  FROM documents
),
truthx AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY norm_text) AS truth_id FROM k
),
assign AS (
  SELECT coalesce(cc.entity_id, tx.doc_id)::BIGINT AS pc, tx.truth_id::BIGINT AS tc
  FROM truthx tx LEFT JOIN cc ON cc.doc_id = tx.doc_id
),
joint AS (SELECT pc, tc, count(*)::BIGINT AS n FROM assign GROUP BY pc, tc),
a1 AS (SELECT sum(n)::BIGINT AS n_items, sum(n*(n-1)//2)::BIGINT AS tp_pairs FROM joint),
a2 AS (SELECT count(*)::BIGINT AS n_pred_clusters, sum(np*(np-1)//2)::BIGINT AS pred_pairs
       FROM (SELECT sum(n)::BIGINT AS np FROM joint GROUP BY pc)),
a3 AS (SELECT count(*)::BIGINT AS n_truth_clusters, sum(nt*(nt-1)//2)::BIGINT AS truth_pairs
       FROM (SELECT sum(n)::BIGINT AS nt FROM joint GROUP BY tc))
SELECT n_items, n_pred_clusters, n_truth_clusters, tp_pairs, pred_pairs, truth_pairs,
       CASE WHEN pred_pairs > 0 THEN tp_pairs::DOUBLE / pred_pairs::DOUBLE ELSE 0.0 END AS precision,
       CASE WHEN truth_pairs > 0 THEN tp_pairs::DOUBLE / truth_pairs::DOUBLE ELSE 0.0 END AS recall,
       CASE WHEN pred_pairs + truth_pairs > 0
            THEN (2*tp_pairs)::DOUBLE / (pred_pairs + truth_pairs)::DOUBLE ELSE 0.0 END AS f1
FROM a1, a2, a3""",
                1,
            )
        ),
        "sample_stratified": sample_stratified_sql,
        # weighted-sample twin: identical quality expression (the
        # text_quality_trim chain) + identical sha256 keep rule
        "sample_quality_weighted": r"""
WITH base AS (
  SELECT doc_id::BIGINT AS doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), w -> w <> '') AS w
  FROM documents
),
q AS (
  SELECT doc_id,
         0.4 * least(1.0, len(w) / 50.0)
         + (CASE WHEN len(w) > 0 THEN 0.3 * (len(list_distinct(w))::DOUBLE / len(w)) ELSE 0.0 END)
         + (CASE WHEN len(w) > 0 THEN 0.3 * least(1.0,
              (list_reduce([0::BIGINT] || [len(x) FOR x IN w], (a, x) -> a + x)::DOUBLE / len(w)) / 8.0)
            ELSE 0.0 END) AS quality
  FROM base
)
SELECT doc_id, floor(quality * 1000000)/1000000.0 AS quality
FROM q
WHERE ('0x' || substring(sha256('13:' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000
      < floor(least(1.0, greatest(0.0, quality)) * 1000000.0)::BIGINT
""",
        "text_quality_trim": "\nWITH base AS (\n  SELECT doc_id::BIGINT AS doc_id,\n         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), w -> w <> '') AS w\n  FROM documents\n),\nq AS (\n  SELECT doc_id,\n         0.4 * least(1.0, len(w) / 50.0)\n         + (CASE WHEN len(w) > 0 THEN 0.3 * (len(list_distinct(w))::DOUBLE / len(w)) ELSE 0.0 END)\n         + (CASE WHEN len(w) > 0 THEN 0.3 * least(1.0,\n              (list_reduce([0::BIGINT] || [len(x) FOR x IN w], (a, x) -> a + x)::DOUBLE / len(w)) / 8.0)\n            ELSE 0.0 END) AS quality\n  FROM base\n),\nt AS (SELECT quantile_cont(quality, 0.1) AS thr FROM q)\nSELECT doc_id, floor(quality * 1000000)/1000000.0 AS quality\nFROM q, t WHERE quality >= thr\n",
        "sample_token_budget": r"""
WITH nt AS (
  SELECT doc_id, lang,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS nt
  FROM documents
),
tot AS (SELECT lang, sum(nt)::HUGEINT AS total FROM nt GROUP BY lang),
rate AS (
  SELECT lang,
         least(1000000::HUGEINT,
               (CASE lang WHEN 'en' THEN 3000 WHEN 'zh' THEN 5000 ELSE 2000 END)::HUGEINT
                 * 1000000 // total) AS ppm
  FROM tot WHERE total > 0
)
SELECT d.doc_id::BIGINT AS doc_id, d.lang
FROM documents d JOIN rate r USING (lang)
WHERE ('0x' || substring(sha256('7:' || d.doc_id::VARCHAR), 1, 15))::BIGINT % 1000000 < ppm
""",
        "text_quality_filters": text_quality_filters_sql,
        "text_chunks": text_chunks_sql,
        "spans_roundtrip": spans_roundtrip_sql,
        "spans_chunked": spans_chunked_sql,
        "spans_modality": spans_modality_sql,
        "spans_media_audit": spans_media_audit_sql,
        "text_stats": text_stats_sql,
        "ann_topk": ann_topk_sql,
        "ann_lsh_buckets": ann_lsh_sql,
        "ann_ivf": ann_ivf_sql,
        # identical deterministic quantizer + parameters as ann_ivf: the
        # persisted-index probe must reproduce the exact same top-k
        "ann_ivf_persisted": ann_ivf_sql,
        "multimodal_meta": multimodal_meta_sql,
        "delta_match_pairs": (
        SQL_PAIRS
        + " SELECT id1, id2, sim FROM pairs WHERE id1 % 5 = 0 OR id2 % 5 = 0"
    ),
        "multimodal_decode": """
SELECT doc_id::BIGINT AS doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'audio/wav' WHEN 1 THEN 'image/bmp' ELSE 'image/png' END AS container,
       CASE doc_id % 3 WHEN 0 THEN -1 WHEN 1 THEN (4 + doc_id % 16)::BIGINT ELSE (3 + doc_id % 13)::BIGINT END AS width,
       CASE doc_id % 3 WHEN 0 THEN -1 WHEN 1 THEN (2 + doc_id % 7)::BIGINT ELSE (2 + doc_id % 5)::BIGINT END AS height,
       CASE doc_id % 3 WHEN 0 THEN ((400 + (doc_id % 100) * 8) / 8)::BIGINT ELSE -1 END AS duration_ms,
       CASE doc_id % 3 WHEN 0 THEN 1::BIGINT WHEN 1 THEN -1 ELSE 3::BIGINT END AS channels,
       CASE doc_id % 3 WHEN 0 THEN 8000::BIGINT ELSE -1 END AS sample_rate,
       CASE doc_id % 3
            WHEN 0 THEN floor((1000 + (doc_id % 50) * 500) / 32768.0 * 1000000)/1000000.0
            WHEN 1 THEN floor((doc_id % 256) / 255.0 * 1000000)/1000000.0
            ELSE floor(((doc_id * 7) % 256) / 255.0 * 1000000)/1000000.0 END AS level
FROM documents
""",
        "events_sessionize": """
WITH e AS (
  SELECT user_id::BIGINT AS user_id, floor(epoch(ts))::BIGINT AS t FROM events  -- floor: Spark unix_timestamp truncates sub-second parts
),
lagd AS (
  SELECT user_id, t, lag(t) OVER (PARTITION BY user_id ORDER BY t) AS pt FROM e
),
b AS (
  SELECT user_id, t,
         CASE WHEN pt IS NULL OR t - pt > 1800 THEN 1 ELSE 0 END AS brk
  FROM lagd
),
s AS (
  SELECT user_id, t,
         sum(brk) OVER (PARTITION BY user_id ORDER BY t
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM b
)
SELECT user_id,
       min(t)::BIGINT AS session_start,
       max(t)::BIGINT AS session_end,
       count(*)::BIGINT AS n_events
FROM s GROUP BY user_id, sid
""",
        "events_percentiles": """
SELECT event_type,
       count(*)::BIGINT AS n_events,
       floor(quantile_cont(value, 0.5) * 1000000)/1000000.0 AS p50,
       floor(quantile_cont(value, 0.95) * 1000000)/1000000.0 AS p95,
       floor(quantile_cont(value, 0.99) * 1000000)/1000000.0 AS p99
FROM events GROUP BY event_type
""",
        "events_topk": """
WITH c AS (
  SELECT event_type, user_id::BIGINT AS user_id, count(*)::BIGINT AS n_events
  FROM events GROUP BY event_type, user_id
),
r AS (
  SELECT event_type, user_id, n_events,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY n_events DESC, user_id ASC)::BIGINT AS rank
  FROM c
)
SELECT event_type, user_id, n_events, rank FROM r WHERE rank <= 3
""",
        "dedup_winnow": winnow_sql,
        "events_windowed": """
SELECT epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT AS window_start,
       event_type,
       count(*)::BIGINT AS n_events,
       sum(floor(value * 1000000))::BIGINT / 1000000.0 AS sum_value,
       sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM events
GROUP BY 1, 2
""",
        # transition twin: identical lag order (ts, event_id) + exact
        # row-normalizing division
        "events_transitions": """
WITH pr AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type
  FROM events
),
c AS (
  SELECT prev_type, event_type, count(*)::BIGINT AS n
  FROM pr WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, event_type, n,
       n::DOUBLE / (sum(n) OVER (PARTITION BY prev_type))::DOUBLE AS p
FROM c
""",
        # anomaly twin: identical trailing ROWS frame over integer
        # counts, identical double chain (mean, population variance,
        # sqrt, z), var<=0 pins z_u to 0 on both engines
        "events_anomaly": """
WITH c AS (
  SELECT event_type,
         epoch(time_bucket(INTERVAL '1 hour', ts))::BIGINT AS window_start,
         count(*)::BIGINT AS n_events
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, window_start, n_events,
         count(n_events) OVER w::BIGINT AS n_prev,
         sum(n_events) OVER w::BIGINT AS s1,
         sum(n_events * n_events) OVER w::BIGINT AS s2
  FROM c
  WINDOW w AS (PARTITION BY event_type ORDER BY window_start
               ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, window_start, n_events, n_prev,
       floor(1000000.0 * (s1::DOUBLE / n_prev::DOUBLE))::BIGINT AS mean_u,
       CASE WHEN (s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n_prev::DOUBLE) / n_prev::DOUBLE > 0
            THEN floor(1000000.0 *
                 ((n_events::DOUBLE - s1::DOUBLE / n_prev::DOUBLE)
                  / sqrt((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n_prev::DOUBLE) / n_prev::DOUBLE)))::BIGINT
            ELSE 0 END AS z_u
FROM s WHERE n_prev >= 3
""",
    }
