"""Private matching index — distributed re-expression of J4.

Reference: ``add_private_index``
(`/root/reference/src/pprl/matching/perform.py:12-81`): matched pairs
receive one shared index, unmatched rows disjoint indices, all sampled
without replacement from ``[size_assumed, 3*size_assumed)`` so an index
value leaks nothing about match status. The reference materializes a
global RNG permutation (`perform.py:57-59`) — fine at 10k rows, impossible
at 10^12.

Here the permutation is *implicit*: the pool ``range(size, 3*size)`` is
hash-shuffled by a keyed hash, then ranked with the zipWithIndex pattern —
per-partition row numbers plus broadcast cumulative offsets — so no row
ever funnels through a single-task global sort (every ``row_number`` window
below is partitioned). With ``seed=None`` the key comes from ``secrets``
(non-reproducible, like the reference); tests pass a seed.

Like the reference (`perform.py:51-53`), only unique 1:1 matches are
accepted — many-to-one would leak successful matches — and exceeding the
pool capacity raises (the reference fails on the length mismatch at
`perform.py:60-63`; silently dropping rows would be worse).
"""

from __future__ import annotations

import secrets

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _numbered(
    df: DataFrame,
    order_col: str,
    offset: int,
    shuffle_col: str | None = None,
    range_by: bool = False,
) -> tuple[DataFrame, int]:
    """Assign dense unique ``slot`` numbers starting at ``offset``.

    zipWithIndex re-expressed in the DataFrame API: row_number windows are
    partitioned by ``spark_partition_id`` (never global), and partition
    offsets come from a tiny per-partition count collect. The frame is
    eagerly localCheckpoint-ed so (a) partition ids are frozen between the
    count action and downstream joins and (b) both output joins see one
    consistent slot assignment. Returns (numbered, row_count).

    ``shuffle_col``: hash-repartition on this column first — used for the
    index pool, where slot blocks must not correlate with value ranges
    (``spark.range`` partitions are contiguous value chunks; hashing on the
    keyed-hash column scatters them).

    ``range_by``: range-repartition on ``order_col`` first. Range partition
    ids ascend with the ranges, so partition-local rank + cumulative
    offsets equals the GLOBAL sort rank by ``order_col`` — a distributed
    global ordering with no single-task ``Window.orderBy`` anywhere
    (partition boundaries only decide where ranges split, never the rank).
    """
    spark = df.sparkSession
    if range_by:
        df = df.repartitionByRange(
            spark.sparkContext.defaultParallelism, order_col
        )
    elif shuffle_col is not None:
        df = df.repartition(spark.sparkContext.defaultParallelism, shuffle_col)
    numbered = (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("_pid").orderBy(order_col)) - 1,
        )
        .localCheckpoint()
    )
    counts = {
        r["_pid"]: r["n"]
        for r in numbered.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    acc = offset
    offsets = []
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off = spark.createDataFrame(offsets, "_pid int, _off long")
    out = (
        numbered.join(F.broadcast(off), "_pid")
        .withColumn("slot", (F.col("_rn") + F.col("_off")).cast("long"))
        .drop("_pid", "_rn", "_off")
    )
    return out, acc - offset


def add_private_index(
    spark: SparkSession,
    df1: DataFrame,
    df2: DataFrame,
    matches: DataFrame,
    size_assumed: int = 10_000,
    seed: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    assert "private_index" not in df1.columns and "private_index" not in df2.columns, (
        "The private_index column is already in use."
    )
    if seed is None:
        seed = secrets.randbits(63)

    m = matches.select("id1", "id2")
    # reference rejects repeated indices (perform.py:51-53); one action
    stats = m.agg(
        F.count("*").alias("n"),
        F.countDistinct("id1").alias("d1"),
        F.countDistinct("id2").alias("d2"),
    ).first()
    assert stats["d1"] == stats["n"] and stats["d2"] == stats["n"], (
        "add_private_index can't handle repeated match indices (many-to-one matches)"
    )

    # assignment slots: matched pairs first, then left-only, then right-only
    pairs, n_pairs = _numbered(m, "id1", offset=0)
    left_only, n_left = _numbered(
        df1.select(F.col("doc_id").alias("id1")).join(
            pairs.select("id1"), "id1", "left_anti"
        ),
        "id1",
        offset=n_pairs,
    )
    right_only, n_right = _numbered(
        df2.select(F.col("doc_id").alias("id2")).join(
            pairs.select("id2"), "id2", "left_anti"
        ),
        "id2",
        offset=n_pairs + n_left,
    )
    total = n_pairs + n_left + n_right
    if total > 2 * size_assumed:
        # reference raises on the length mismatch (perform.py:60-63); a
        # silent inner-join drop would lose documents
        raise ValueError(
            f"datasets need {total} private indices but the pool "
            f"[{size_assumed}, {3 * size_assumed}) only holds "
            f"{2 * size_assumed}; raise size_assumed"
        )

    # pseudorandom shuffle of the fixed pool via keyed hash: hash-repartition
    # scatters the contiguous range chunks, partition-local ranking by the
    # hash orders within — no slot block correlates with a value range
    pool_src = spark.range(size_assumed, 3 * size_assumed).withColumn(
        "_ord", F.xxhash64(F.col("id"), F.lit(seed))
    )
    pool, _ = _numbered(pool_src, "_ord", offset=0, shuffle_col="_ord")
    pool = pool.where(F.col("slot") < total).select(
        "slot", F.col("id").alias("private_index")
    )

    idx1 = pairs.select("id1", "slot").unionByName(left_only).join(pool, "slot").drop("slot")
    idx2 = pairs.select("id2", "slot").unionByName(right_only).join(pool, "slot").drop("slot")

    out1 = df1.join(idx1.withColumnRenamed("id1", "doc_id"), "doc_id")
    out2 = df2.join(idx2.withColumnRenamed("id2", "doc_id"), "doc_id")
    return out1, out2
