"""spark-submit entrypoint for the three staged plans: linkage, dedup, curation.

    zip -r pprl_spark.zip pprl_spark
    spark-submit --master <url> --py-files pprl_spark.zip scripts/run_pipeline.py \
        linkage --docs-a <path|synthetic:N> --docs-b <path|synthetic:N> --base-dir /ckpt/run1
    spark-submit ... scripts/run_pipeline.py dedup --docs /data/crawl_docs \
        --base-dir /ckpt/dedup1 --sample en=0.2,zh=1.0 --sample-default 0.5
    spark-submit ... scripts/run_pipeline.py curation --docs /data/crawl_docs \
        --base-dir /ckpt/cur1 --trim-frac 0.1 --drop-buckets tail

Plain ``PYTHONPATH=. python scripts/run_pipeline.py ...`` runs on local
threads. Linkage reads input_hint-shaped document tables or
``synthetic:N`` (the seeded FEBRL-style generator); dedup and curation
read parquet of (doc_id, text, ...). Prints one JSON line: executed and
skipped stages, rows per stage, and for linkage the match and cluster
counts (plus P/R/F1 with --evaluate). Re-running with the same
--base-dir and parameters skips every committed stage.
"""

from __future__ import annotations

import argparse
import json

from pprl_spark.config import EmbedderConfig
from pprl_spark.plans.curation_pipeline import run_curation
from pprl_spark.plans.dedup_pipeline import run_dedup
from pprl_spark.plans.pipeline import run_linkage
from pprl_spark.session import get_spark
from pprl_spark.sources.synthetic import labeled_pairs, synthesize_documents


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--base-dir", required=True)
    common.add_argument("--run-id", default="run-0")
    dedup = argparse.ArgumentParser(add_help=False)
    dedup.add_argument("--docs", required=True, help="parquet path of (doc_id, text, ...)")
    dedup.add_argument("--shingle-k", type=int, default=2)
    dedup.add_argument("--threshold", type=float, default=0.4)
    dedup.add_argument("--bands", type=int, default=4)
    dedup.add_argument("--rows-per-band", type=int, default=2)
    dedup.add_argument("--sample", default=None, help="per-stratum keep rates, e.g. en=0.2,zh=1.0")
    dedup.add_argument("--sample-default", type=float, default=1.0)
    dedup.add_argument("--sample-salt", type=int, default=0)
    dedup.add_argument("--strata-col", default="lang")

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="plan", required=True)
    link = sub.add_parser("linkage", parents=[common])
    link.add_argument("--docs-a", required=True)
    link.add_argument("--docs-b", required=True)
    link.add_argument("--abs-cutoff", type=float, default=0.3)
    link.add_argument("--salt", default="")
    link.add_argument("--use-thresholds", action="store_true")
    link.add_argument("--match-rounds", type=int, default=1)
    link.add_argument("--jw-field", default=None,
                      help="kept column to blend Jaro-Winkler pair scores on (e.g. surname)")
    link.add_argument("--jw-weight", type=float, default=0.3)
    link.add_argument("--evaluate", action="store_true", help="report pairwise P/R/F1 vs true_id")
    link.add_argument("--bucket-blocks", type=int, default=None,
                      help="bucket count for block stage tables (default: auto "
                           "= parallelism; 0 disables bucketing)")
    sub.add_parser("dedup", parents=[common, dedup])
    cur = sub.add_parser("curation", parents=[common, dedup])
    cur.add_argument("--trim-frac", type=float, default=0.1)
    cur.add_argument("--drop-buckets", default="tail",
                     help="comma-separated perplexity buckets to drop ('' = none)")
    return p.parse_args(argv)


def _load(spark, spec: str, source: str):
    if spec.startswith("synthetic:"):
        return synthesize_documents(spark, int(spec.split(":")[1]), source)
    return spark.read.parquet(spec)


def _rates(spec: str | None) -> dict[str, float] | None:
    """``en=0.2,zh=1.0`` -> {"en": 0.2, "zh": 1.0}."""
    if not spec:
        return None
    return {k.strip(): float(v) for k, v in (kv.split("=", 1) for kv in spec.split(","))}


def _prf(matches, truth) -> dict:
    tp, n_m, n_t = matches.join(truth, ["id1", "id2"]).count(), matches.count(), truth.count()
    p = tp / n_m if n_m else 0.0
    r = tp / n_t if n_t else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"precision": round(p, 4), "recall": round(r, 4), "f1": round(f1, 4)}


def run(args: argparse.Namespace, spark) -> dict:
    """Run one plan on ``spark``; return the report ``main`` prints."""
    if args.plan == "linkage":
        docs_a, docs_b = _load(spark, args.docs_a, "A"), _load(spark, args.docs_b, "B")
        pipe = run_linkage(
            spark, EmbedderConfig(abs_cutoff=args.abs_cutoff, salt=args.salt),
            docs_a, docs_b, args.base_dir, run_id=args.run_id,
            use_thresholds=args.use_thresholds, match_rounds=args.match_rounds,
            jw_field=args.jw_field, jw_weight=args.jw_weight,
            bucket_blocks=args.bucket_blocks,
        )
    else:
        plan, filters = run_dedup, {}
        if args.plan == "curation":
            drop = tuple(b for b in args.drop_buckets.split(",") if b)
            plan, filters = run_curation, {"trim_frac": args.trim_frac, "drop_buckets": drop}
        pipe = plan(
            spark, spark.read.parquet(args.docs), args.base_dir, run_id=args.run_id,
            k=args.shingle_k, threshold=args.threshold,
            bands=args.bands, rows_per_band=args.rows_per_band,
            sample_fractions=_rates(args.sample),
            sample_default=args.sample_default, sample_salt=args.sample_salt,
            strata_col=args.strata_col, **filters,
        )
    rows = {s: pipe.io.read(spark, s).count() for s in pipe.skipped + pipe.executed}
    out = {"executed": pipe.executed, "skipped": pipe.skipped, "rows": rows}
    if args.plan == "linkage":
        out["matches"] = rows["matches"]
        out["clusters"] = pipe.io.read(spark, "clusters").select("entity_id").distinct().count()
        if args.evaluate and "true_id" in docs_a.columns:
            out.update(_prf(pipe.io.read(spark, "matches"), labeled_pairs(docs_a, docs_b)))
    return out


def main() -> None:
    args = parse_args()
    spark = get_spark(f"pprl_{args.plan}")
    print(json.dumps(run(args, spark)))
    spark.stop()


if __name__ == "__main__":
    main()
