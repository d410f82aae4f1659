"""Checkpointed, resumable training-data dedup pipeline.

The dedup counterpart of ``plans.pipeline.run_linkage``, over the same
stage-table machinery (manifests, config-checksum resume, per-partition
metric rows): near-dup pairs -> entity clusters -> canonical survivors ->
(optional) deterministic stratified sample. This is the end-to-end shape
an LLM data pipeline runs over a raw crawl: every stage is a committed
table, so a killed 100 TB run resumes after its last finished stage and
the kept-document table is reproducible bit-for-bit (content-addressed
sampling, deterministic canonical selection).
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pprl_spark.config import EmbedderConfig
from pprl_spark.operators.cluster import clusters_from_matches
from pprl_spark.operators.dedup import canonical_documents, minhash_near_duplicates
from pprl_spark.operators.sampling import stratified_sample
from pprl_spark.plans.pipeline import ParquetStageIO, Pipeline, _input_fingerprint


def dedup_pipeline(
    spark: SparkSession, docs: DataFrame, base_dir: str, run_id: str,
    k: int, threshold: float, bands: int, rows_per_band: int,
) -> Pipeline:
    """The run-level :class:`Pipeline` of both dedup plans: its resume key
    folds the banding parameters and the fingerprint of the raw input
    ``docs``. Stage-local knobs (sampling rates, curation filters) salt
    only the stages they feed, so retuning them reuses upstream tables."""
    params = (
        f"k={k};thr={threshold};b={bands}x{rows_per_band};"
        f"in={_input_fingerprint(docs)}"
    )
    return Pipeline(
        spark, EmbedderConfig(), ParquetStageIO(base_dir), run_id,
        run_params_hash=hashlib.md5(params.encode()).hexdigest()[:16],
    )


def dedup_stages(
    pipe: Pipeline, docs: DataFrame,
    k: int, threshold: float, bands: int, rows_per_band: int,
    sample_fractions: dict[str, float] | None, sample_default: float,
    sample_salt: int, strata_col: str,
    deps: list[str] | None = None, salt: str = "",
) -> None:
    """dedup_pairs -> dedup_clusters -> canonical -> kept_docs over ``docs``.

    ``deps``/``salt`` tie the chain to the stage that produced ``docs``
    (curation's ``filtered``). The sampling parameters salt only
    ``kept_docs``, so a rate change re-runs just the final filter.
    ``sample_fractions=None`` keeps every canonical doc (the stage still
    runs, so consumers have ONE table to read regardless of config).

    Stage shapes (all scale-audited in the underlying operators):
    pairs is the slim (id, band-key) MinHash join; clusters is the
    counted union-find / two-phase contraction CC; canonical is one scan
    + one window; kept is a broadcast-friendly semi-join + a shuffle-free
    hash-sample filter.
    """
    sample_tag = hashlib.md5(
        (
            f"{json.dumps(sample_fractions, sort_keys=True)}:"
            f"{sample_default}:{sample_salt}:{strata_col}"
        ).encode()
    ).hexdigest()[:12]
    def build_pairs() -> DataFrame:
        return minhash_near_duplicates(
            docs, k=k, threshold=threshold, bands=bands, rows_per_band=rows_per_band
        )

    pairs = pipe.stage("dedup_pairs", build_pairs, deps=deps, salt=salt)
    clusters = pipe.stage(
        "dedup_clusters",
        lambda: clusters_from_matches(pairs),
        deps=["dedup_pairs"],
        salt=salt,
    )
    canonical = pipe.stage(
        "canonical",
        lambda: canonical_documents(docs, clusters),
        deps=["dedup_clusters"],
        salt=salt,
    )

    def build_kept() -> DataFrame:
        kept = docs.join(
            canonical.select(F.col("canonical_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        if sample_fractions is not None:
            kept = stratified_sample(
                kept,
                strata_col,
                sample_fractions,
                default_fraction=sample_default,
                salt=sample_salt,
            )
        return kept

    pipe.stage(
        "kept_docs",
        build_kept,
        deps=["canonical"],
        salt=f"{salt}:{sample_tag}" if salt else sample_tag,
    )


def run_dedup(
    spark: SparkSession,
    docs: DataFrame,
    base_dir: str,
    run_id: str = "run-0",
    k: int = 2,
    threshold: float = 0.4,
    bands: int = 4,
    rows_per_band: int = 2,
    sample_fractions: dict[str, float] | None = None,
    sample_default: float = 1.0,
    sample_salt: int = 0,
    strata_col: str = "lang",
) -> Pipeline:
    """:func:`dedup_stages` over ``docs`` (doc_id, text, plus
    ``strata_col`` when sampling), staged under ``base_dir``."""
    pipe = dedup_pipeline(spark, docs, base_dir, run_id, k, threshold, bands, rows_per_band)
    dedup_stages(
        pipe, docs, k, threshold, bands, rows_per_band,
        sample_fractions, sample_default, sample_salt, strata_col,
    )
    return pipe
