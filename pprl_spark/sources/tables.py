"""Document-table readers/writers: parquet (default) and JSON.

Source parity with the reference (SURVEY.md §2.1): S1/S2 JSON read/write
(`/root/reference/scripts/server.py:89-97`, `matching/local.py:26-30`),
S3 all-string CSV (`src/pprl/app/__init__.py:63`) as ``spark.read.csv``
plus :func:`lift_flat_records`. The reference reads flat per-party
tables; here flat records are lifted into the input_hint spans shape so
every downstream stage sees one document model.
On a cluster the parquet paths are replaced by Iceberg tables
(``spark.read.table``) — same shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pprl_spark.sources.synthetic import DOCS_SCHEMA


def read_documents(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read a documents table already in input_hint shape."""
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "json":
        # S1 analog: pd.read_json -> spark.read.json with the fixed schema
        # (never inferSchema in production: one pass, stable types)
        return spark.read.schema(DOCS_SCHEMA).json(path)
    raise ValueError(f"unsupported documents format: {fmt}")


def write_documents(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """S2 analog: persist outputs (JSON for reference-compat, parquet default)."""
    writer = df.write.mode("overwrite")
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "json":
        writer.json(path)
    else:
        raise ValueError(f"unsupported documents format: {fmt}")


def lift_flat_records(
    df: DataFrame, id_col: str, field_cols: list[str], keep: list[str] | None = None
) -> DataFrame:
    """Lift a flat per-field table (reference CSV/JSON shape) into spans.

    Each configured field becomes a ``field=value`` text span in column
    order (offset = position), mirroring FIXTURES.md §1. Null fields are
    kept as empty payloads so offsets stay stable.
    """
    spans = F.array(
        *[
            F.struct(
                F.lit("text").alias("kind"),
                F.concat(F.lit(f"{c}="), F.coalesce(F.col(c).cast("string"), F.lit(""))).alias(
                    "text"
                ),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(i).alias("offset"),
            )
            for i, c in enumerate(field_cols)
        ]
    )
    cols = [F.col(id_col).cast("string").alias("doc_id"), spans.alias("spans")]
    for k in keep or []:
        cols.append(F.col(k))
    return df.select(*cols)


def write_bucketed_blocks(
    blocks: DataFrame,
    table: str,
    path: str,
    n_buckets: int,
) -> None:
    """Persist an exploded block table bucketed + sorted by the hashed
    block key, so the candidate pair join reads both sides CO-LOCATED.

    The candidate join's key is ``xxhash64(block_key)``; storing it as a
    ``_bk`` column and bucketing on it lets the sort-merge join consume
    both scans with ZERO shuffle exchanges (``Bucketed: true`` on both
    sides — pinned by ``tests/test_bucketed_blocks.py``). At 10^12
    documents the pair join's two corpus-sized exchanges are the largest
    shuffles in the pipeline; pre-bucketed stage tables remove them
    entirely on re-runs, incremental delta matches (the corpus side is
    written once, probed many times), and threshold self-joins.

    Salting does NOT apply on this path: ``generate_candidates`` skips
    the salt-and-replicate step when either input carries a stored ``_bk``
    (salt keys would force the exchange right back in — Spark requires
    every cluster key covered for co-partitioning). Skew safety on
    bucketed joins comes from ``cap_blocks``, which bounds any block to
    ``max_block_size`` docs; keep ``cap=True`` (the default) when
    feeding bucketed tables.

    Bucketed writes require the table API (``saveAsTable``); passing
    ``path`` keeps it an external table so the data lives where the
    caller says, not in the session warehouse. On a cluster the same
    call against an Iceberg catalog writes a bucket-partitioned Iceberg
    table.
    """
    cols = [c for c in blocks.columns if c != "block_key"]
    out = blocks.select(*cols, F.xxhash64("block_key").alias("_bk"))
    # repartition on the bucket column first: bucketBy writes one file per
    # (task, bucket) pair, and repartition's HashPartitioning is the same
    # murmur3-pmod the bucket id uses, so each task holds exactly one
    # bucket -> n_buckets files total instead of tasks x buckets
    out = out.repartition(n_buckets, "_bk")
    (
        out.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, "_bk")
        .sortBy("_bk")
        .saveAsTable(table)
    )


def read_bucketed_blocks(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed block table; feed directly to generate_candidates
    (which detects the precomputed ``_bk`` and joins on it)."""
    return spark.table(table)


def register_bucketed_table(
    spark: SparkSession, table: str, path: str, n_buckets: int
) -> DataFrame:
    """(Re-)register a :func:`write_bucketed_blocks` directory (bucketed
    on ``_bk``) in the catalog.

    Bucket metadata lives in the session catalog, not the files — a NEW
    session resuming a pipeline would read the same parquet as a plain
    (unbucketed) scan and silently pay the join exchanges again. The file
    names written by ``bucketBy`` encode the bucket ids, so a
    ``CREATE TABLE ... CLUSTERED BY ... LOCATION`` over the directory
    restores the zero-exchange scans exactly; the schema comes from the
    parquet footers. Idempotent: an already-registered table is returned
    as-is.
    """
    if spark.catalog.tableExists(table):
        return spark.table(table)
    schema = spark.read.parquet(path).schema
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    spark.sql(
        f"CREATE TABLE {table} ({cols}) USING PARQUET "
        "CLUSTERED BY (`_bk`) SORTED BY (`_bk`) "
        f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )
    return spark.table(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    sort_by: list[str] | None = None,
) -> None:
    """Pruning-friendly parquet layout: hive-partition directories on
    low-cardinality keys + row-group clustering on ``sort_by``.

    The read-side payoff (plan-pinned in ``tests/test_layout.py``):

    - a filter on a ``partition_by`` column becomes a PartitionFilter —
      pruned DIRECTORIES, zero I/O for excluded partitions;
    - a range filter on a ``sort_by`` column becomes a PushedFilter
      that parquet row-group min/max stats can skip, because sorting
      within each output file makes the stats tight instead of
      full-range.

    One repartition on the partition keys keeps one writer task per
    partition (no tasks×partitions small-file blowup — same rationale
    as ``write_bucketed_blocks``); ``sortWithinPartitions`` then orders
    rows inside each task's file so row-group stats are monotone.
    Partition keys must be low-cardinality (lang, source, date — not
    doc_id): each distinct tuple is a directory, and 10^6 directories
    is a metastore outage, not a layout.
    """
    out = df.repartition(*[F.col(c) for c in partition_by])
    if sort_by:
        out = out.sortWithinPartitions(*partition_by, *sort_by)
    out.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
