"""Checkpoint/resume + lineage metrics of the staged pipeline."""

import pytest
from pyspark.sql import functions as F

from pprl_spark.config import EmbedderConfig
from pprl_spark.plans.pipeline import ParquetStageIO, run_linkage
from pprl_spark.sources.synthetic import labeled_pairs, synthesize_documents

N = 120


@pytest.fixture(scope="module")
def parties(spark):
    return (
        synthesize_documents(spark, N, "A").cache(),
        synthesize_documents(spark, N, "B").cache(),
    )


def test_pipeline_runs_and_is_accurate(spark, parties, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("pipe"))
    A, B = parties
    cfg = EmbedderConfig(abs_cutoff=0.3)
    pipe = run_linkage(spark, cfg, A, B, base, run_id="r1")
    assert pipe.executed and not pipe.skipped
    matches = pipe.io.read(spark, "matches")
    truth = labeled_pairs(A, B)
    tp = matches.join(truth, ["id1", "id2"]).count()
    assert tp / N >= 0.97  # recall at small N

    # lineage: every stage logged per-partition rows under this run
    m = pipe.metrics().where(F.col("run_id") == "r1")
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert {"embed_a", "embed_b", "block_a", "block_b", "candidates", "matches", "clusters"} <= stages
    per_stage = {
        r["stage"]: r["total"]
        for r in m.groupBy("stage").agg(F.sum("rows").alias("total")).collect()
    }
    assert per_stage["embed_a"] == N
    assert per_stage["matches"] == matches.count()


def test_pipeline_resume_skips_committed_stages(spark, parties, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("pipe_resume"))
    A, B = parties
    cfg = EmbedderConfig(abs_cutoff=0.3)
    first = run_linkage(spark, cfg, A, B, base, run_id="r1")
    assert len(first.executed) == 7

    # simulate a crash after 'candidates': downstream commits lost
    io = ParquetStageIO(base)
    io.invalidate("matches")
    io.invalidate("clusters")

    second = run_linkage(spark, cfg, A, B, base, run_id="r2")
    assert set(second.skipped) == {"embed_a", "embed_b", "block_a", "block_b", "candidates"}
    assert set(second.executed) == {"matches", "clusters"}


def test_config_change_invalidates_checkpoints(spark, parties, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("pipe_cfg"))
    A, B = parties
    run_linkage(spark, EmbedderConfig(abs_cutoff=0.3), A, B, base, run_id="r1")
    # different bloom size -> different checksum -> full recompute
    third = run_linkage(
        spark, EmbedderConfig(abs_cutoff=0.3, bf_size=512), A, B, base, run_id="r3"
    )
    assert not third.skipped
    assert len(third.executed) == 7


def test_run_params_invalidate_checkpoints(spark, parties, tmp_path_factory):
    # same config, different run params -> stale stage tables must NOT be
    # reused (match_rounds/use_thresholds are not in the embedder checksum)
    base = str(tmp_path_factory.mktemp("pipe_params"))
    A, B = parties
    cfg = EmbedderConfig(abs_cutoff=0.3)
    run_linkage(spark, cfg, A, B, base, run_id="r1", match_rounds=1)
    again = run_linkage(spark, cfg, A, B, base, run_id="r2", match_rounds=2)
    assert not again.skipped

    # different INPUT data, same everything else -> also a full recompute
    C = synthesize_documents(spark, N + 10, "C").cache()
    other = run_linkage(spark, cfg, C, B, base, run_id="r3", match_rounds=2)
    assert not other.skipped


def test_pipeline_with_thresholds(spark, parties, tmp_path_factory):
    """use_thresholds: every surviving match scores at least both rows'
    self-similarity thresholds plus rel_cutoff, and at least abs_cutoff.
    Party A holds exact twins of 20 of its records under new ids, so
    their thresholds are near 1 and mask their cross-party pairs
    (without the mask, 20 of the matches break the rule)."""
    base = str(tmp_path_factory.mktemp("pipe_thr"))
    A, B = parties
    A = A.unionByName(synthesize_documents(spark, 20, "C", corrupt=False))
    cfg = EmbedderConfig(abs_cutoff=0.3, rel_cutoff=0.05)
    pipe = run_linkage(spark, cfg, A, B, base, run_id="r1", use_thresholds=True)
    assert {"thresholds_a", "thresholds_b"} <= set(pipe.executed)
    matches = pipe.io.read(spark, "matches")
    for side, col in (("a", "id1"), ("b", "id2")):
        thr = pipe.io.read(spark, f"thresholds_{side}")
        matches = matches.join(thr.select(F.col("doc_id").alias(col),
                                          F.col("thresholds").alias(f"t_{side}")), col, "left")
    rows = matches.collect()
    assert 0 < len(rows) < N
    for m in rows:
        assert m["sim"] >= cfg.abs_cutoff
        for t in (m["t_a"], m["t_b"]):
            assert t is None or m["sim"] >= t + cfg.rel_cutoff


def test_stageio_contract(spark):
    """ParquetStageIO and IcebergStageIO expose the same stage-table
    surface with identical parameter lists, so the pipeline can swap
    backends without drift; the Iceberg backend is environment-gated."""
    import inspect

    from pprl_spark.plans.pipeline import IcebergStageIO

    for method in ("manifest", "read", "write", "invalidate"):
        p = inspect.signature(getattr(ParquetStageIO, method))
        i = inspect.signature(getattr(IcebergStageIO, method))
        assert list(p.parameters) == list(i.parameters), (
            method, list(p.parameters), list(i.parameters),
        )
    with pytest.raises(NotImplementedError, match="iceberg-spark-runtime"):
        IcebergStageIO(spark, "warehouse.pprl")


def test_pipeline_jw_rescore_stage(spark, parties, tmp_path_factory):
    """jw_field adds the Jaro-Winkler rescore stage (north-star Dice/JW
    pair scoring): stage executes, sims stay in [0,1], and accuracy holds
    — JW on the surname sharpens, never craters, the match set."""
    base = str(tmp_path_factory.mktemp("pipe_jw"))
    A, B = parties
    cfg = EmbedderConfig(abs_cutoff=0.25)
    pipe = run_linkage(
        spark, cfg, A, B, base, run_id="r1", jw_field="surname", jw_weight=0.3
    )
    assert "jw_rescored" in pipe.executed
    scored = pipe.io.read(spark, "jw_rescored")
    stats = scored.agg(
        F.min("sim").alias("lo"), F.max("sim").alias("hi"), F.count("*").alias("n")
    ).first()
    assert stats["n"] > 0 and 0.0 <= stats["lo"] and stats["hi"] <= 1.0
    matches = pipe.io.read(spark, "matches")
    truth = labeled_pairs(A, B)
    tp = matches.join(truth, ["id1", "id2"]).count()
    assert tp / N >= 0.97
    # different jw params invalidate the stage on resume
    again = run_linkage(
        spark, cfg, A, B, base, run_id="r2", jw_field="surname", jw_weight=0.5
    )
    assert "jw_rescored" in again.executed
