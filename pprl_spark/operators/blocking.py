"""Blocking-key generation: MinHash-LSH bands + sorted-neighborhood keys.

This stage is THE algorithmic transformation vs the reference: the
reference scores a dense N×M matrix
(`/root/reference/src/pprl/embedder/embedder.py:468-528`), O(N·M·B) — a
wall at 10^12 documents. Here each document emits a handful of blocking
keys; candidate pairs exist only within a key. Everything is built-in
Spark (``transform``/``array_min``/``soundex``/``explode``) so Catalyst
keeps it inside whole-stage codegen — no Python in this stage.

MinHash over the Bloom-index set: h_j(x) = (a_j·x + b_j) mod P with
deterministic per-permutation constants (expressible in ANSI SQL, which
keeps the stage oracle-checkable in DuckDB). Banding: ``minhash_bands``
groups of ``rows_per_band`` values; equal band vector => same block key.
Two documents with Jaccard(bf sets) = s collide in ≥1 band with
p = 1-(1-s^r)^b — the standard LSH S-curve.

Skew (celebrity blocks) is handled at the pair join, not here:
``operators.candidates`` thins blocks over ``max_block_size`` docs and,
when the join shuffles, salts each hot block over up to ``SALT_BUCKETS``
sub-blocks on ONE side while the other side replicates over them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pprl_spark.config import EmbedderConfig

MINHASH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne); fits long arithmetic


def minhash_coeffs(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) per permutation — closed form, SQL-expressible."""
    return [
        ((j * 2_654_435_761 + 1) % MINHASH_PRIME, (j * 2_654_435_789 + 17) % MINHASH_PRIME)
        for j in range(num_perm)
    ]


def minhash_signatures(idx_rows, num_perm: int) -> list[list[int] | None]:
    """Vectorized numpy twin of :func:`minhash_col` for Python kernels.

    ``sig_j = min over indices x of (a_j*x + b_j) mod P``. Bloom indices
    are small (< bf_size + offset) and ``a_j < P < 2^31``, so every
    product fits int64 exactly — bit-identical to the JVM fold (pinned
    by an eqNullSafe comparison test). Empty index rows yield
    ``[None]*num_perm``, matching ``aggregate()`` over an empty array
    returning its null-filled init. Embed kernels call this so the
    blocking stage never pays the interpreted higher-order fold.
    """
    import numpy as np

    coeffs = minhash_coeffs(num_perm)
    mh_a = np.array([a for a, _ in coeffs], dtype=np.int64)
    mh_b = np.array([b for _, b in coeffs], dtype=np.int64)
    lens = np.fromiter((len(ix) for ix in idx_rows), np.int64, len(idx_rows))
    total = int(lens.sum())
    out: list[list[int] | None] = [None] * len(idx_rows)
    if total:
        flat = np.fromiter((x for ix in idx_rows for x in ix), np.int64, total)
        h = (flat[:, None] * mh_a[None, :] + mh_b[None, :]) % MINHASH_PRIME
        nz = np.flatnonzero(lens)
        starts = np.zeros(len(nz), dtype=np.int64)
        np.cumsum(lens[nz][:-1], out=starts[1:])
        mins = np.minimum.reduceat(h, starts, axis=0)
        for row_i, sig in zip(nz.tolist(), mins.tolist()):
            out[row_i] = sig
    empty = [None] * num_perm
    return [empty if o is None else o for o in out]


def minhash_col(indices_col: Column | str, num_perm: int) -> Column:
    """array<long> MinHash signature of an array<int> column, JVM-side.

    Single-pass: ONE ``F.aggregate`` traversal of the input array carries
    an array<long> of running minima (``zip_with`` against the coefficient
    arrays), instead of ``num_perm`` separate ``array_min(transform(...))``
    scans — same arithmetic, 1/num_perm the array traversals and a
    num_perm-times smaller codegen expression (the fix that took SimHash
    from 17s to 2.5s at sf0.1, applied here).
    """
    c = F.col(indices_col) if isinstance(indices_col, str) else indices_col
    coeffs = minhash_coeffs(num_perm)
    a_arr = F.array(*[F.lit(a).cast("long") for a, _ in coeffs])
    b_arr = F.array(*[F.lit(b).cast("long") for _, b in coeffs])
    init = F.array_repeat(F.lit(None).cast("long"), num_perm)
    return F.aggregate(
        c,
        init,
        lambda acc, x: F.zip_with(
            acc,
            F.zip_with(
                a_arr,
                b_arr,
                lambda a, b: (a * x.cast("long") + b) % F.lit(MINHASH_PRIME),
            ),
            lambda m, h: F.least(m, h),
        ),
    )


def band_keys(sig: Column, bands: int, rows_per_band: int, tag: str) -> Column:
    """array<string> of LSH band keys from a *materialized* signature
    column: band ``b`` is ``tag.format(b)`` and its ``rows_per_band``
    values, ``-``-joined. Callers keep their key strings through ``tag``.

    The signature must be a plain column reference (not the minhash
    expression itself): Catalyst expressions are trees, so feeding the
    raw ``minhash_col`` expression here would re-evaluate all ``perms``
    array transforms once per ``getItem`` — O(perms²) array scans per row
    (measured 10x slow-down of the whole blocking stage).
    """
    keys = []
    for band in range(bands):
        parts = [sig.getItem(band * rows_per_band + i).cast("string") for i in range(rows_per_band)]
        keys.append(F.concat_ws("-", F.lit(tag.format(band)), *parts))
    return F.array(*keys)


def sorted_neighborhood_keys(df_cols: dict[str, Column]) -> list[Column]:
    """Phonetic/prefix keys over PII fields — the reference-style fixed keys.

    FEBRL-style corruption rarely hits the phonetic skeleton of both name
    fields at once, so the union of several cheap keys gives the recall
    the F1 gate needs (each is a native function: soundex, substring).
    """
    keys = []
    gn = df_cols.get("given_name")
    sn = df_cols.get("surname")
    dob = df_cols.get("date_of_birth")
    pc = df_cols.get("postcode")
    if gn is not None and sn is not None:
        keys.append(F.concat_ws("|", F.lit("sx"), F.soundex(gn), F.soundex(sn)))
        # transposition-robust: sorted soundex pair catches swapped fields
        pair = F.array_sort(F.array(F.soundex(gn), F.soundex(sn)))
        keys.append(F.concat_ws("|", F.lit("sxs"), pair.getItem(0), pair.getItem(1)))
    if sn is not None and pc is not None:
        keys.append(F.concat_ws("|", F.lit("snpc"), F.soundex(sn), pc))
    if gn is not None and dob is not None:
        keys.append(F.concat_ws("|", F.lit("gnd"), F.soundex(gn), dob))
    if dob is not None and pc is not None:
        keys.append(F.concat_ws("|", F.lit("dpc"), dob, pc))
    return keys


def add_block_keys(df: DataFrame, config: EmbedderConfig) -> DataFrame:
    """Add ``block_keys array<string>``: the MinHash band keys plus the
    sorted-neighborhood keys, to an embedded documents frame."""
    if "mh_sig" in df.columns:
        # the embed kernel precomputed the signature (vectorized
        # numpy, bit-identical to minhash_col — see embedding.py):
        # the JVM fold below is an interpreted higher-order function
        # costing ~0.9s per 20k-doc blocking stage when computed here
        sig = F.col("mh_sig")
    else:
        # materialize the signature once, then slice it (see
        # band_keys for why this two-step shape matters)
        df = df.withColumn("_sig", minhash_col("bf_indices", config.minhash_perms))
        sig = F.col("_sig")
    merged = band_keys(sig, config.minhash_bands, config.rows_per_band, "mh{}:")
    sn = sorted_neighborhood_keys({f: F.col(f) for f in config.colspec if f in df.columns})
    if sn:
        merged = F.concat(merged, F.array(*sn))
    # drop the signature columns: _sig is internal, and mh_sig has done
    # its job (keeping it would widen every downstream explode/shuffle)
    return df.withColumn("block_keys", F.array_distinct(merged)).drop("_sig", "mh_sig")


def explode_blocks(df: DataFrame, include_indices: bool = True) -> DataFrame:
    """(doc_id, [bf_indices,] bf_bitmap, bf_n, block_key) — one row per
    (document, key).

    Projects down to the columns the candidate join actually needs BEFORE
    exploding: each document emits ~10 keys, so every extra column is
    duplicated ~10x through the explode and any downstream shuffle or
    checkpoint. Carrying the ~150-string ``features`` array here measured
    ~6x slower blocking at 40k docs; at 10^12 docs it would dominate the
    stage table entirely.

    ``include_indices=False`` drops the ~360B ``bf_indices`` array too —
    the candidate join needs only the embed kernel's 128B ``bf_bitmap``
    and the scalar ``bf_n`` (set cardinality for the similarity
    denominator), so the exploded stage table shrinks ~60%.
    The pipeline's block stages use this; keep indices when downstream
    consumers (per-block Hungarian scoring, SCM alignment) read them.
    """
    cols = ["doc_id", *(["bf_indices"] if include_indices else []), "bf_bitmap"]
    return df.select(
        *cols,
        F.size("bf_indices").alias("bf_n"),
        F.explode("block_keys").alias("block_key"),
    )


def blocking_stats(blocks: DataFrame, k: int = 20) -> DataFrame:
    """Pre-flight skew/quality report for a blocked pair join ->
    top-``k`` blocks by size (rank 1..k) plus one ``'<all>'`` summary
    row (rank 0) carrying the global counts.

    Columns: (block_key, size, pairs, n_blocks, rank) where ``pairs`` =
    size·(size-1)/2 — the within-block candidate count, whose global sum
    is THE number that decides whether the pair join is launchable (the
    100 TB question is never "how many rows" but "how many pairs", and
    one celebrity block dominates the sum). Reading this before
    ``generate_candidates`` is how a production run picks ``cap_blocks``
    / salting; the engine's cap defaults exist because these numbers are
    routinely pathological (sf0.1's densest block alone contributes
    millions of pairs).

    Shape: one map-side-combined groupBy over (key) rows; the top-k is
    ``TakeOrderedAndProject`` (per-partition heap, k-row driver merge);
    the global row is a 1-row aggregate — no global sort anywhere.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    sizes = blocks.groupBy("block_key").agg(F.count("*").alias("size"))
    pairs = (F.col("size") * (F.col("size") - 1) / 2).cast("long")
    top = (
        sizes.orderBy(F.desc("size"), F.asc("block_key"))
        .limit(k)
        .select("block_key", "size", pairs.alias("pairs"), F.lit(1).alias("_one"))
    )
    w = Window.orderBy(F.desc("size"), F.asc("block_key"))
    top = top.withColumn("rank", F.row_number().over(w)).drop("_one")
    total = sizes.agg(
        F.sum("size").alias("size"),
        F.sum(pairs).alias("pairs"),
        F.count("*").alias("n_blocks"),
    ).select(
        F.lit("<all>").alias("block_key"),
        "size",
        "pairs",
        "n_blocks",
        F.lit(0).alias("rank"),
    )
    return top.withColumn("n_blocks", F.lit(None).cast("long")).unionByName(
        total
    ).select(
        "block_key",
        F.col("size").cast("long").alias("size"),
        F.col("pairs").cast("long").alias("pairs"),
        F.coalesce(F.col("n_blocks"), F.lit(-1)).cast("long").alias("n_blocks"),
        F.col("rank").cast("long").alias("rank"),
    )


def snm_window_pairs(df: DataFrame, key_col: str, w: int = 4) -> DataFrame:
    """Classic sorted-neighborhood pairs -> (id1, id2), id1 < id2.

    The Hernandez-Stolfo merge/purge blocking: sort the corpus by
    ``key_col`` (tie-broken by id) and pair every row with the ``w - 1``
    rows that FOLLOW it in the global order. Complements key-equality
    blocking: a window catches records whose keys are merely *adjacent*
    (typos in the last character, truncations) that no exact key join
    can see, at a guaranteed ``n * (w - 1)`` pair budget.

    Scale shape — the naive formulation is a single-partition global
    window, which caps the operator at one core. Here the global sort
    rank is computed distributed via the zipWithIndex pattern
    (``private_index._numbered`` with ``range_by=True``: range
    partitions ascend with the key ranges, so partition-local
    row_number + broadcast cumulative offsets IS the global rank — no
    single-task window anywhere), and the w-window becomes a plain
    equi-join of each rank against its next ``w - 1`` ranks (a
    ``sequence`` explode, fan-out exactly w-1). The pair SET is exact
    by construction — rank arithmetic has none of the partition-
    boundary edge cases a borrowed-rows window scheme has (a range
    partition smaller than w would silently drop straddling pairs
    there). Only (key, id, rank) ride the shuffles; the ranked frame is
    materialized once inside ``_numbered``.
    """
    # package-internal reuse of the zipWithIndex machinery; see
    # private_index._numbered for the range_by global-rank argument
    from pprl_spark.operators.private_index import _numbered

    if w < 2:
        raise ValueError(f"w must be >= 2, got {w}")
    slim = df.select(
        F.col("doc_id").alias("_id"),
        F.concat(
            F.col(key_col).cast("string"),
            F.lit("|"),
            F.lpad(F.col("doc_id").cast("string"), 20, "0"),
        ).alias("_ok"),
    )
    numbered, n = _numbered(slim, "_ok", offset=0, range_by=True)
    a = (
        numbered.where(F.col("slot") < n - 1)
        .select(
            F.col("_id").alias("ida"),
            F.explode(
                F.sequence(
                    F.col("slot") + 1,
                    F.least(F.col("slot") + (w - 1), F.lit(n - 1)),
                )
            ).alias("_s"),
        )
    )
    b = numbered.select(F.col("_id").alias("idb"), F.col("slot").alias("_s"))
    return a.join(b, "_s").select(
        F.least("ida", "idb").alias("id1"), F.greatest("ida", "idb").alias("id2")
    )


def k_anonymity_report(
    blocks: DataFrame,
    ks: tuple[int, ...] = (2, 5, 10),
) -> DataFrame:
    """Blocking-key k-anonymity audit -> one row per k:
    (k, n_blocks_below, n_entries_below, n_docs_exposed, n_blocks_total,
    n_docs_total, exposed_frac).

    The privacy half of blocking diagnostics (``blocking_stats`` is the
    skew half): in a privacy-preserving linkage, a blocking key whose
    block holds fewer than k records lets the other party bound a
    record's identity to that tiny candidate set — the exact leak PPRL
    exists to prevent. ``n_docs_exposed`` counts documents whose
    SMALLEST block is below k (one small block anywhere is enough to
    expose the doc); parties use the report to pick coarser keys or
    suppress sub-k blocks before exchanging anything.

    Scale shape: one map-side-combined size aggregation, one join-back
    of the slim (key, size) dim, one per-doc min — then every k is a
    conditional sum over the same two small frames (ONE pass each,
    stacked by an inline explode; no per-k re-aggregation).
    """
    if not ks or any(k < 2 for k in ks):
        raise ValueError(f"ks must be >= 2, got {ks}")
    ks = tuple(sorted(set(ks)))
    sizes = blocks.groupBy("block_key").agg(F.count("*").cast("long").alias("_n"))
    docmin = (
        blocks.select("doc_id", "block_key")
        .join(sizes, "block_key")
        .groupBy("doc_id")
        .agg(F.min("_n").alias("_minn"))
    )
    sb = sizes.agg(
        F.count("*").cast("long").alias("n_blocks_total"),
        *[
            F.sum((F.col("_n") < k).cast("long")).cast("long").alias(f"_b{k}")
            for k in ks
        ],
        *[
            F.sum(F.when(F.col("_n") < k, F.col("_n")).otherwise(0))
            .cast("long")
            .alias(f"_e{k}")
            for k in ks
        ],
    )
    xb = docmin.agg(
        F.count("*").cast("long").alias("n_docs_total"),
        *[
            F.sum((F.col("_minn") < k).cast("long")).cast("long").alias(f"_x{k}")
            for k in ks
        ],
    )
    stacked = sb.join(xb).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("k"),
                        F.col(f"_b{k}").alias("n_blocks_below"),
                        F.col(f"_e{k}").alias("n_entries_below"),
                        F.col(f"_x{k}").alias("n_docs_exposed"),
                    )
                    for k in ks
                ]
            )
        ).alias("_r"),
        "n_blocks_total",
        "n_docs_total",
    )
    return stacked.select(
        F.col("_r.k").alias("k"),
        F.col("_r.n_blocks_below").alias("n_blocks_below"),
        F.col("_r.n_entries_below").alias("n_entries_below"),
        F.col("_r.n_docs_exposed").alias("n_docs_exposed"),
        "n_blocks_total",
        "n_docs_total",
        F.when(
            F.col("n_docs_total") > 0,
            F.col("_r.n_docs_exposed").cast("double")
            / F.col("n_docs_total").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("exposed_frac"),
    )
