"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB against the same parquet tables, then compares row count, column
names, and order-insensitive values. Usage::

    python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import duckdb

import __spark_entry__ as entry
from pprl_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# Oracles backed by committed golden fixtures built from the sf0.01
# corpus (the driver's correctness scale): at any other sf the fixture
# cannot match by construction, so the checker reports them as scoped
# rather than failed. Every other oracle is closed-form SQL and must
# pass at EVERY scale (verified at sf0.001 and sf0.01).
FIXTURE_SCOPED = {
    "pprl_scm_scored", "pprl_assignment", "pprl_metaphone",
    "pprl_fs_scored", "pprl_fs_match", "pprl_fs_clusters",
}


def norm_cell(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_query(spark, con, sf_dir: str, name: str) -> str:
    """Run query ``name`` on ``spark`` and its oracle on ``con``.

    Returns one report line starting with PASS, FAIL, SKIP or "OK?" (no
    oracle: rows-only check).
    """
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    if name in FIXTURE_SCOPED and sf_tag != "sf0.01":
        return f"SKIP {name}: golden fixture is sf0.01-scoped"
    try:
        sdf = entry.queries()[name](spark, sf_dir)
        scols = sorted(sdf.columns)
        srows = sorted(tuple(norm_cell(r[c]) for c in scols) for r in sdf.collect())
    except Exception as e:
        return f"FAIL {name}: spark error: {e}"
    oracles = entry.oracle_sql()
    if name not in oracles:
        return f"OK?  {name}: rows={len(srows)} (no oracle — rows-only check)"
    try:
        ddf = con.sql(oracles[name]).fetchdf()
    except Exception as e:
        return f"FAIL {name}: duckdb error: {e}"
    dcols = sorted(ddf.columns)
    drows = sorted(
        tuple(norm_cell(v) for v in row)
        for row in ddf[dcols].itertuples(index=False, name=None)
    )
    if scols != dcols:
        return f"FAIL {name}: columns {scols} vs {dcols}"
    if len(srows) != len(drows):
        return (
            f"FAIL {name}: rowcount {len(srows)} vs {len(drows)}\n"
            f"  spark head: {srows[:3]}\n  duck  head: {drows[:3]}"
        )
    bad = [(a, b) for a, b in zip(srows, drows) if a != b]
    if bad:
        return f"FAIL {name}: {len(bad)} mismatched rows; first: {bad[0]}"
    return f"PASS {name}: rows={len(srows)}"


def run(sf_dir: str, only: list[str]) -> int:
    spark = get_spark(app_name="oracle_check", master="local[8]", shuffle_partitions=8)
    con = duckdb_views(sf_dir)
    failures = 0
    try:
        for name in entry.queries():
            if only and name not in only:
                continue
            line = check_query(spark, con, sf_dir, name)
            print(line)
            failures += line.startswith("FAIL")
    finally:
        con.close()
        spark.stop()
    return failures


if __name__ == "__main__":
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]
    sys.exit(1 if run(sf_dir, only) else 0)
