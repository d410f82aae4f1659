"""Bucketed stage tables: the pair join runs with zero exchanges.

At 10^12 documents the candidate join's two corpus-sized shuffles are
the pipeline's largest exchanges; bucketing the exploded block tables by
the hashed block key removes them entirely (corpus written once, probed
by every delta match / threshold pass / re-run). These tests pin the
plan property, the end-to-end equality with the unbucketed path, and
the composition with the rest of the operators.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pprl_spark.config import EmbedderConfig
from pprl_spark.operators.blocking import add_block_keys, explode_blocks
from pprl_spark.operators.candidates import generate_candidates
from pprl_spark.operators.embedding import embed_documents
from pprl_spark.sources.synthetic import synthesize_documents
from pprl_spark.sources.tables import read_bucketed_blocks, write_bucketed_blocks


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    cfg = EmbedderConfig(pair_join_hint="merge")
    blocks = {}
    for src in ("A", "B"):
        docs = synthesize_documents(spark, 400, src)
        blk = explode_blocks(
            add_block_keys(embed_documents(docs, cfg, keep=["doc_id"]), cfg),
            include_indices=False,
        )
        table = f"bl_{src.lower()}_bucketed"
        write_bucketed_blocks(blk, table, str(base / src), n_buckets=4)
        blocks[src] = (blk.localCheckpoint(), table)
    yield cfg, blocks
    for _, table in blocks.values():
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bucketed_pair_join_zero_exchange(spark, bucketed):
    cfg, blocks = bucketed
    a = read_bucketed_blocks(spark, blocks["A"][1])
    b = read_bucketed_blocks(spark, blocks["B"][1])
    assert "_bk" in a.columns and "block_key" not in a.columns
    cand = generate_candidates(a, b, cfg, cap=False)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    join_part = plan.split("SortMergeJoin")[-1]  # below the join: scans
    assert "Bucketed: true" in join_part
    # the join's inputs come straight from the bucketed scans — the only
    # exchange in the whole plan is the pair-dedupe groupBy above the join
    above_join = plan.split("SortMergeJoin")[0]
    assert join_part.count("Exchange") == 0
    assert above_join.count("Exchange") <= 1


def test_bucketed_equals_unbucketed(spark, bucketed):
    cfg, blocks = bucketed
    a_plain, a_table = blocks["A"]
    b_plain, b_table = blocks["B"]
    plain = {
        (r["id1"], r["id2"], round(r["sim"], 9))
        for r in generate_candidates(a_plain, b_plain, cfg, cap=False).collect()
    }
    bucketed_out = {
        (r["id1"], r["id2"], round(r["sim"], 9))
        for r in generate_candidates(
            read_bucketed_blocks(spark, a_table),
            read_bucketed_blocks(spark, b_table),
            cfg,
            cap=False,
        ).collect()
    }
    assert plain == bucketed_out and plain


def test_bucketed_with_cap_and_salt(spark, bucketed):
    """cap_blocks thins IDENTICALLY on raw and bucketed inputs: the
    survivor decision hashes the hashed key on both paths, so capped
    celebrity blocks keep the same documents whichever table shape the
    caller feeds (was a 1-match divergence at 100k docs)."""
    cfg, blocks = bucketed
    cfg_capped = cfg.with_args(max_block_size=5)
    out = generate_candidates(
        read_bucketed_blocks(spark, blocks["A"][1]),
        read_bucketed_blocks(spark, blocks["B"][1]),
        cfg_capped,
    )
    plain = generate_candidates(blocks["A"][0], blocks["B"][0], cfg_capped)
    got_b = {(r["id1"], r["id2"], round(r["sim"], 9)) for r in out.collect()}
    got_p = {(r["id1"], r["id2"], round(r["sim"], 9)) for r in plain.collect()}
    assert got_b == got_p and got_b


def test_self_join_thresholds_zero_exchange(spark, bucketed):
    """The threshold self-compare consumes ONE bucketed scan on both
    sides of its join — subset-rule co-partitioning, no Exchange."""
    cfg, blocks = bucketed
    a = read_bucketed_blocks(spark, blocks["A"][1])
    self_pairs = generate_candidates(a, None, cfg, cap=False)
    plan = self_pairs._jdf.queryExecution().executedPlan().toString()
    join_part = plan.split("SortMergeJoin")[-1]
    assert "Bucketed: true" in join_part
    assert join_part.count("Exchange") == 0


def test_delta_probe_single_exchange(spark, bucketed):
    """A plain (unbucketed) delta probing the bucketed corpus shuffles
    ONLY the delta side — the corpus scan stays exchange-free and no
    salting is injected (salt keys would force the corpus exchange
    back). This is the incremental-match hot path: corpus written once,
    probed by every delta batch."""
    cfg, blocks = bucketed
    corpus = read_bucketed_blocks(spark, blocks["A"][1])
    # delta: a plain block table still carrying the block_key string
    docs = synthesize_documents(spark, 60, "D")
    delta = explode_blocks(
        add_block_keys(embed_documents(docs, cfg, keep=["doc_id"]), cfg),
        include_indices=False,
    )
    cand = generate_candidates(delta, corpus, cfg, cap=False)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    join_part = plan.split("SortMergeJoin")[-1]
    assert "Bucketed: true" in join_part  # corpus side from the bucketed scan
    assert join_part.count("Exchange") == 1  # delta side only
    assert "_salt" not in plan


def test_pipeline_bucketed_stage_tables_zero_exchange(spark, tmp_path_factory):
    """run_linkage persists bucketed block stages; a resumed session's
    candidates join over the read-back stage tables is exchange-free
    below the join, and results equal the unbucketed pipeline."""
    from pprl_spark.plans.pipeline import run_linkage
    from pprl_spark.sources.synthetic import synthesize_documents as synth

    base = tmp_path_factory.mktemp("pipe_bkt")
    cfg = EmbedderConfig(pair_join_hint="merge")
    docs_a = synth(spark, 300, "A")
    docs_b = synth(spark, 300, "B")
    pipe = run_linkage(
        spark, cfg, docs_a, docs_b, str(base / "b"), bucket_blocks=4
    )
    matches_bucketed = {
        (r["id1"], r["id2"]) for r in pipe.io.read(spark, "matches").collect()
    }
    # the committed block stages read back bucketed
    blk_a = pipe.io.read(spark, "block_a")
    blk_b = pipe.io.read(spark, "block_b")
    assert "_bk" in blk_a.columns and "block_key" not in blk_a.columns
    cand = generate_candidates(blk_a, blk_b, cfg, cap=False)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    join_part = plan.split("SortMergeJoin")[-1]
    assert "Bucketed: true" in join_part
    assert join_part.count("Exchange") == 0
    # equality with the unbucketed pipeline
    pipe_plain = run_linkage(
        spark, cfg, docs_a, docs_b, str(base / "p"), bucket_blocks=0
    )
    matches_plain = {
        (r["id1"], r["id2"]) for r in pipe_plain.io.read(spark, "matches").collect()
    }
    assert matches_bucketed == matches_plain and matches_bucketed
    # resume skips every stage and still reads bucketed scans
    pipe2 = run_linkage(
        spark, cfg, docs_a, docs_b, str(base / "b"), bucket_blocks=4
    )
    assert pipe2.executed == []
    assert "_bk" in pipe2.io.read(spark, "block_a").columns
