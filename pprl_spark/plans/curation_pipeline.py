"""Checkpointed, resumable end-to-end corpus CURATION pipeline.

The full training-data story in one staged DAG — the composition a 100 TB
crawl actually runs, with every intermediate a committed table so a
killed run resumes after its last finished stage:

    scrubbed   PII redaction (email/IPv4/phone) + hit counts
    vocab      corpus unigram-surprisal table (integer micro-nats)
    scored     per-doc quality_score + mean surprisal + perplexity bucket
    filtered   corpus-calibrated quality trim + optional tail-bucket drop
    dedup_pairs/clusters/canonical   MinHash near-dup -> CC -> survivor
    kept_docs  deterministic stratified sample of the canonical survivors

The dedup tail is ``plans.dedup_pipeline.dedup_stages`` — the same
four stages ``run_dedup`` runs — over ``filtered``, and the run-level
parameters + the input fingerprint gate the whole DAG
(``dedup_pipeline.dedup_pipeline``); stage-LOCAL knobs (trim fraction, drop
set, sampling rates) fold into per-stage salts, so changing the trim
fraction re-runs only filtered→kept, never the scrub or the vocab.

Scale notes per stage: scrub is pure codegen (zero shuffle); vocab is
one map-side-combined word count; scoring joins the broadcast vocab and
partially aggregates each doc map-side; filtering broadcasts two 1-row
threshold aggregates; the dedup stages are the audited slim-key
MinHash/CC/window shapes of ``operators.dedup``/``cluster``.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pprl_spark.functions.text import pii_counts, quality_score, scrub_pii
from pprl_spark.operators.corpus import (
    perplexity_buckets,
    quality_trim,
    surprisal_scores,
    unigram_surprisals,
)
from pprl_spark.plans.dedup_pipeline import dedup_pipeline, dedup_stages
from pprl_spark.plans.pipeline import Pipeline


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    base_dir: str,
    run_id: str = "run-0",
    trim_frac: float = 0.1,
    drop_buckets: tuple[str, ...] = ("tail",),
    k: int = 2,
    threshold: float = 0.4,
    bands: int = 4,
    rows_per_band: int = 2,
    sample_fractions: dict[str, float] | None = None,
    sample_default: float = 1.0,
    sample_salt: int = 0,
    strata_col: str = "lang",
) -> Pipeline:
    """scrubbed -> vocab -> scored -> filtered -> dedup -> kept_docs.

    ``docs`` must carry (doc_id, text) plus ``strata_col`` when sampling
    is requested. ``drop_buckets`` names CCNet perplexity buckets to
    drop entirely (default: the 'tail' tertiary — highest surprisal);
    ``trim_frac`` additionally trims the bottom quality quantile with a
    corpus-calibrated cutoff. Both are stage-local (salted): retuning
    them never re-runs the scrub/vocab stages.
    """
    pipe = dedup_pipeline(spark, docs, base_dir, run_id, k, threshold, bands, rows_per_band)
    filter_tag = hashlib.md5(
        f"{trim_frac}:{json.dumps(sorted(drop_buckets))}".encode()
    ).hexdigest()[:12]

    passthrough = [c for c in docs.columns if c not in ("doc_id", "text")]

    scrubbed = pipe.stage(
        "scrubbed",
        lambda: docs.select(
            "doc_id",
            scrub_pii("text").alias("text"),
            *passthrough,
            sum(
                (c.cast("long") for c in pii_counts("text")), F.lit(0)
            ).alias("n_pii"),
        ),
    )
    vocab = pipe.stage(
        "vocab",
        lambda: unigram_surprisals(scrubbed),
        deps=["scrubbed"],
    )

    def build_scored() -> DataFrame:
        s = surprisal_scores(scrubbed, vocab)
        s = perplexity_buckets(s)
        q = scrubbed.select("doc_id", quality_score("text").alias("quality"))
        return scrubbed.join(s.select("doc_id", "mean_u", "bucket"), "doc_id").join(
            q, "doc_id"
        )

    scored = pipe.stage("scored", build_scored, deps=["scrubbed", "vocab"])

    def build_filtered() -> DataFrame:
        kept = scored
        if drop_buckets:
            kept = kept.where(~F.col("bucket").isin(*drop_buckets))
        if trim_frac > 0:
            kept = quality_trim(kept, F.col("quality"), frac=trim_frac)
        return kept

    filtered = pipe.stage(
        "filtered", build_filtered, deps=["scored"], salt=filter_tag
    )

    dedup_stages(
        pipe, filtered, k, threshold, bands, rows_per_band,
        sample_fractions, sample_default, sample_salt, strata_col,
        deps=["filtered"], salt=filter_tag,
    )
    return pipe
