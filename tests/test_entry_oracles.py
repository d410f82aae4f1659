"""The linkage queries of ``__spark_entry__`` against their DuckDB oracles.

``__spark_entry__`` embeds, scores and matches through ``pprl_spark``
(``embedding.bloom_batch``, ``generate_candidates``,
``mutual_best_match``), and its near-duplicate queries through the
``operators.dedup`` key-join + verify path; these checks run the
scored-pair, Dice, mutual-best, dedup, set-join, graph, corpus and
text-scoring queries on the sf0.001 tables and compare them value-exactly with the
closed-form SQL twins, as ``tools/check_oracles.py`` does.
"""

import pytest

import __spark_entry__ as entry
from tools.check_oracles import check_query, duckdb_views, norm_cell


@pytest.fixture(scope="module")
def con():
    c = duckdb_views(entry.ENTRY_SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize(
    "name",
    [
        "pprl_score_pairs",
        "pprl_dice_pairs",
        "pprl_mutual_best_match",
        "dedup_minhash",
        "dedup_ngram_jaccard",
        "dedup_delta",
        "dedup_winnow",
        "dedup_embedding",
        "dedup_setjoin",
        "dedup_containment",
        "dedup_semantic",
        "dedup_exact",
        "dedup_eval",
        "graph_pagerank",
        "graph_triangles",
        "corpus_divergence",
        "text_dup_spans",
        "text_jaro_winkler",
        "text_bm25",
        "dedup_simhash",
    ],
)
def test_entry_query_matches_oracle(spark, con, name):
    line = check_query(spark, con, entry.ENTRY_SF_DIR, name)
    assert line.startswith("PASS"), line


def test_entry_matches_mutual_best_oracle(spark, con):
    """``entry()`` itself, not only the query that shares its memo."""
    oracle = entry.oracle_sql()["pprl_mutual_best_match"]
    got = sorted(tuple(map(norm_cell, r)) for r in entry.entry(spark).collect())
    want = sorted(
        tuple(map(norm_cell, r))
        for r in con.sql(f"SELECT id1, id2, sim FROM ({oracle})").fetchall()
    )
    assert got and got == want
