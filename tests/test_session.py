"""What ``get_spark`` keeps warm: the codegen cache holds a linkage
pass's generated classes, and the local Python workers fork from
``pprl_spark._daemon``, which stops each task re-reading the zips on
their import path."""

import pandas as pd
from pyspark.sql import functions as F

from pprl_spark.config import EmbedderConfig
from pprl_spark.operators.blocking import add_block_keys, explode_blocks
from pprl_spark.operators.candidates import generate_candidates
from pprl_spark.operators.cluster import clusters_from_matches
from pprl_spark.operators.embedding import embed_documents
from pprl_spark.operators.matching import mutual_best_match
from pprl_spark.sources.synthetic import synthesize_documents
from pprl_spark.sources.tables import write_bucketed_blocks
from pprl_spark.streaming.incremental import delta_candidates, delta_match


def compiles(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_linkage_pass(spark, tmp_path):
    """A perfbench-shaped linkage pass (two parties linked and clustered,
    their blocks written bucketed, a delta batch probed and re-ranked)
    generates ~160 classes; at Spark's default 100-entry cache every
    repeat recompiled ~115 of them. The two-party chain alone (~70)
    would fit the default."""
    cfg = EmbedderConfig(abs_cutoff=0.3)
    a, b, delta = (synthesize_documents(spark, n, party).localCheckpoint()
                   for n, party in ((60, "A"), (60, "B"), (12, "C")))
    prior = []

    def blocked(docs):
        return explode_blocks(add_block_keys(embed_documents(docs, cfg), cfg),
                              include_indices=False)

    def linkage_pass():
        blocks = [blocked(a), blocked(b)]
        cand = generate_candidates(*blocks, cfg, min_sim=cfg.abs_cutoff)
        matches = mutual_best_match(cand)
        clusters_from_matches(matches).collect()
        write_bucketed_blocks(blocks[0].unionByName(blocks[1]), "session_test_corpus",
                              str(tmp_path / "corpus"), n_buckets=4)
        corpus = spark.table("session_test_corpus")
        if not prior:
            prior.append(generate_candidates(corpus, None, cfg,
                                             min_sim=cfg.abs_cutoff).localCheckpoint())
        new = delta_candidates(corpus, blocked(delta), cfg, min_sim=cfg.abs_cutoff)
        return (sorted(tuple(r) for r in matches.select("id1", "id2").collect()),
                sorted(tuple(r) for r in delta_match(prior[0], new).select("id1", "id2").collect()))

    first = linkage_pass()
    assert first[0] and first[1]
    assert linkage_pass() == first
    before = compiles(spark)
    assert linkage_pass() == first
    assert compiles(spark) == before


def test_workers_keep_their_zip_directories(spark):
    """Inside a worker, ``importlib.invalidate_caches()`` leaves every
    cached zipimporter's directory as it was."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        importers = [i for i in sys.path_importer_cache.values()
                     if isinstance(i, zipimport.zipimporter)]
        files = [id(i._files) for i in importers]
        importlib.invalidate_caches()
        kept = [id(i._files) for i in importers] == files
        for batch in batches:
            yield pd.DataFrame({"daemon": [sys.modules["__main__"].__spec__.name] * len(batch),
                                "zips": len(importers), "kept": kept})

    rows = (spark.range(8, numPartitions=4)
            .mapInPandas(probe, "daemon string, zips int, kept boolean")
            .agg(F.collect_set("daemon"), F.min("zips"), F.min(F.col("kept").cast("int")))
            .first())
    assert list(rows[0]) == ["pprl_spark._daemon"]
    assert rows[1] > 0  # pyspark.zip at least
    assert rows[2] == 1
