"""Checkpointed, resumable linkage pipeline with per-partition lineage.

The reference validates embedder/EDF compatibility with an md5 checksum
(`/root/reference/src/pprl/embedder/embedder.py:382-401,504-506`) but has
no notion of stages or resume — one eager in-memory call. The north rule
requires: per-stage checkpoints, per-partition lineage + metric rows, and
mid-run resumability.

Design:
- Each stage writes a **stage table** under ``<base>/<stage>/`` plus a
  ``_manifest.json`` carrying (run_id, stage, config checksum, row count,
  wall time). A stage is *committed* iff the manifest exists — parquet's
  ``_SUCCESS`` guards partial writes below that.
- On (re)run, a stage whose manifest matches the current config checksum
  is **skipped** and its table is read back — so a killed run resumes
  after its last committed stage. A config change invalidates every
  downstream stage via the checksum (the reference's compatibility check,
  made per-stage).
- Every commit appends per-partition metric rows
  (run_id, stage, partition_id, rows, config_hash, extra) to
  ``<base>/_metrics/`` — the lineage trail the north rule asks for.

Storage is a seam: :class:`ParquetStageIO` is the in-container backend;
on a real cluster the same pipeline runs against Iceberg tables
(`spark.table`/`writeTo``, snapshot properties instead of manifest files)
via :class:`IcebergStageIO` — gated on the runtime having Iceberg jars.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pprl_spark.config import EmbedderConfig
from pprl_spark.operators.blocking import add_block_keys, explode_blocks
from pprl_spark.operators.candidates import generate_candidates
from pprl_spark.operators.cluster import clusters_from_matches
from pprl_spark.operators.embedding import embed_documents
from pprl_spark.operators.matching import (
    apply_thresholds,
    mutual_best_match,
    row_thresholds,
)


class ParquetStageIO:
    """Stage tables as parquet dirs + JSON manifests (local/posix).

    Stages written with ``bucket=n`` go through ``saveAsTable``/
    ``bucketBy`` (sources.tables.write_bucketed_blocks) so downstream
    block-key joins consume co-located scans with zero exchanges; the
    manifest records the bucket count, and reads re-register the catalog
    table when a fresh session resumes (bucket metadata is catalog
    state, not file state — see sources.tables.register_bucketed_table).
    """

    def __init__(self, base_dir: str):
        self.base = base_dir

    def _dir(self, stage: str) -> str:
        return os.path.join(self.base, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.base, f"{stage}._manifest.json")

    def _table_name(self, stage: str) -> str:
        import hashlib

        tag = hashlib.md5(os.path.abspath(self.base).encode()).hexdigest()[:8]
        return f"pprl_stage_{tag}_{stage}"

    def manifest(self, stage: str) -> dict | None:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        man = self.manifest(stage) or {}
        bucket = man.get("bucket")
        if bucket:
            from pprl_spark.sources.tables import register_bucketed_table

            return register_bucketed_table(
                spark, self._table_name(stage), self._dir(stage), bucket
            )
        return spark.read.parquet(self._dir(stage))

    def write(self, df: DataFrame, stage: str, manifest: dict) -> None:
        bucket = manifest.get("bucket")
        if bucket:
            from pprl_spark.sources.tables import write_bucketed_blocks

            spark = df.sparkSession
            table = self._table_name(stage)
            # drop a stale catalog entry so the overwrite re-registers
            # against the (possibly changed) schema/bucket count
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            write_bucketed_blocks(df, table, self._dir(stage), n_buckets=bucket)
        else:
            df.write.mode("overwrite").parquet(self._dir(stage))
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(stage))  # atomic commit

    def invalidate(self, stage: str) -> None:
        p = self._manifest_path(stage)
        if os.path.exists(p):
            os.remove(p)


class IcebergStageIO:
    """Iceberg-backed stage tables (cluster deployments).

    Same contract as :class:`ParquetStageIO` (the shared method surface is
    pinned by ``tests/test_pipeline.py::test_stageio_contract``) with stage
    tables as ``<namespace>.<stage>`` and the manifest as an Iceberg table
    property — Iceberg property changes commit atomically with a snapshot,
    giving the same "manifest exists iff stage committed" semantics the
    parquet backend gets from the atomic ``os.replace``. Requires the
    iceberg-spark-runtime jars on the classpath (this container has none,
    and is offline, so constructing it raises; the body below is exercised
    only on real clusters).
    """

    MANIFEST_PROP = "pprl.manifest"

    def __init__(self, spark: SparkSession, namespace: str):
        try:
            # Class.forName, not attribute traversal: py4j silently returns
            # a JavaPackage for missing classes instead of raising
            spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
                "org.apache.iceberg.Schema"
            )
        except Exception as exc:  # pragma: no cover - environment gate
            raise NotImplementedError(
                "Iceberg runtime jars not on the classpath; use ParquetStageIO "
                "locally, or submit with --packages org.apache.iceberg:"
                "iceberg-spark-runtime-4.0_2.13"
            ) from exc
        self.spark = spark
        self.namespace = namespace

    def _table(self, stage: str) -> str:
        return f"{self.namespace}.{stage}"

    def manifest(self, stage: str) -> dict | None:  # pragma: no cover - needs jars
        try:
            rows = self.spark.sql(f"SHOW TBLPROPERTIES {self._table(stage)}").collect()
        except Exception:
            return None
        props = {r["key"]: r["value"] for r in rows}
        raw = props.get(self.MANIFEST_PROP)
        return json.loads(raw) if raw else None

    def read(self, spark: SparkSession, stage: str) -> DataFrame:  # pragma: no cover
        return spark.table(self._table(stage))

    def write(self, df: DataFrame, stage: str, manifest: dict) -> None:  # pragma: no cover
        df.writeTo(self._table(stage)).using("iceberg").createOrReplace()
        # escape backslashes BEFORE quotes: Spark SQL string literals
        # (non-ANSI mode) treat backslash as an escape, so a manifest
        # containing e.g. a json-escaped quote or a Windows path would
        # otherwise corrupt the property value
        payload = (
            json.dumps(manifest).replace("\\", "\\\\").replace("'", "''")
        )
        self.spark.sql(
            f"ALTER TABLE {self._table(stage)} "
            f"SET TBLPROPERTIES ('{self.MANIFEST_PROP}' = '{payload}')"
        )

    def invalidate(self, stage: str) -> None:  # pragma: no cover - needs jars
        try:
            self.spark.sql(
                f"ALTER TABLE {self._table(stage)} "
                f"UNSET TBLPROPERTIES IF EXISTS ('{self.MANIFEST_PROP}')"
            )
        except Exception:
            pass


@dataclass
class Pipeline:
    """Stage orchestrator: run/skip/commit + metrics.

    ``run_params_hash`` folds run-level parameters and an input fingerprint
    into the resume key: the embedder checksum alone would let a re-run
    with different ``match_rounds``/``use_thresholds``/input data silently
    reuse stale stage tables. ``deps`` invalidates downstream stages when
    any upstream stage was re-executed this run.
    """

    spark: SparkSession
    config: EmbedderConfig
    io: ParquetStageIO
    run_id: str = "run-0"
    run_params_hash: str = ""
    executed: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        extra: dict[str, str] | None = None,
        deps: list[str] | None = None,
        bucket: int | None = None,
        salt: str = "",
    ) -> DataFrame:
        """``bucket=n``: persist this stage bucketed by the hashed block
        key (zero-exchange downstream joins); recorded in the manifest so
        resume reads restore the bucketed scan, and folded into the
        checksum so toggling bucketing invalidates the stage.

        ``salt``: stage-LOCAL parameters folded into this stage's resume
        checksum only — parameters that affect one leaf stage (e.g.
        sampling rates) belong here, not in ``run_params_hash``, so
        changing them re-runs just that stage instead of the whole DAG."""
        checksum = f"{self.config.checksum}:{self.run_params_hash}"
        if bucket:
            checksum = f"{checksum}:bkt{bucket}"
        if salt:
            checksum = f"{checksum}:{salt}"
        man = self.io.manifest(name)
        upstream_fresh = not any(d in self.executed for d in (deps or []))
        if man is not None and man.get("config_hash") == checksum and upstream_fresh:
            self.skipped.append(name)
            return self.io.read(self.spark, name)

        t0 = time.time()
        df = build()
        self.io.write(
            df,
            name,
            {
                "run_id": self.run_id,
                "stage": name,
                "config_hash": checksum,
                "ts": time.time(),
                **({"bucket": bucket} if bucket else {}),
            },
        )
        out = self.io.read(self.spark, name)
        self._write_metrics(out, name, checksum, time.time() - t0, extra or {})
        self.executed.append(name)
        return out

    def _write_metrics(
        self, df: DataFrame, stage: str, checksum: str, secs: float, extra: dict[str, str]
    ) -> None:
        per_part = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows"))
            .withColumn("run_id", F.lit(self.run_id))
            .withColumn("stage", F.lit(stage))
            .withColumn("config_hash", F.lit(checksum))
            .withColumn("wall_secs", F.lit(round(secs, 3)))
            .withColumn(
                "extra",
                F.create_map(
                    *[F.lit(x) for kv in extra.items() for x in kv]
                ).cast("map<string,string>"),
            )
        )
        per_part.write.mode("append").parquet(os.path.join(self.io.base, "_metrics"))

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.io.base, "_metrics"))


def _input_fingerprint(df: DataFrame) -> str:
    """Cheap, *session-stable* input identity for the resume key.

    File-backed inputs hash their file list (catches "same base dir,
    different input tables"). Otherwise the analyzed plan STRING with
    expression ids stripped: ``Dataset.semanticHash`` is NOT usable here —
    its expr-id canonicalization is per-JVM, so the same logical input
    hashes differently across sessions and every resume would rebuild.
    No Spark action in either path.
    """
    import hashlib
    import re

    try:
        files = df.inputFiles()
        if files:
            return hashlib.md5("\n".join(sorted(files)).encode()).hexdigest()[:16]
    except Exception:
        pass
    try:
        plan = df._jdf.queryExecution().analyzed().toString()  # type: ignore[union-attr]
        canon = re.sub(r"#\d+", "#x", plan)
        return hashlib.md5(canon.encode()).hexdigest()[:16]
    except Exception:
        return hashlib.md5(str(df.schema).encode()).hexdigest()[:16]


def _scm_rescore(cand: DataFrame, emb_a: DataFrame, emb_b: DataFrame, scm) -> DataFrame:
    """Re-score candidate pairs with a trained SCM (soft cosine).

    The binary-cosine min_sim prune already ran, so the quadratic form
    touches only plausible pairs — and via the projection formulation
    (``scm.soft_cosine_pairs_native``) Python runs once per DOC while the
    per-PAIR score is a codegen'd gather: the reference computes this for
    every cell of the dense N×M matrix (`embedder.py:568-645`); here the
    pair table never leaves the JVM.
    """
    from pprl_spark.operators.scm import soft_cosine_pairs_native

    return soft_cosine_pairs_native(cand.drop("sim"), emb_a, emb_b, scm, out_col="sim")


# source columns the embed stages carry through
LINKAGE_KEEP = [
    "doc_id", "true_id", "given_name", "surname", "date_of_birth", "sex", "address", "postcode"
]


def run_linkage(
    spark: SparkSession,
    config: EmbedderConfig,
    docs_a: DataFrame,
    docs_b: DataFrame,
    base_dir: str,
    run_id: str = "run-0",
    use_thresholds: bool = False,
    match_rounds: int = 1,
    scm=None,
    jw_field: str | None = None,
    jw_weight: float = 0.3,
    bucket_blocks: int | None = None,
) -> Pipeline:
    """The full staged DAG (SURVEY.md §7.2): embed -> block -> candidates
    [-> scm rescore] [-> jw rescore] [-> thresholds] -> match -> cluster,
    each stage checkpointed.

    ``bucket_blocks``: bucket count for the block stage tables (``None``
    = auto: the session's default parallelism; ``0`` disables). Bucketed
    block stages are written once clustered by the hashed block key, so
    the candidates join, the threshold self-joins, and any later delta
    probe against these stage tables run with zero shuffle exchanges —
    the write pays one clustering pass; every downstream join and every
    resumed run reads co-located scans for free. At 10^12 docs the two
    corpus-sized candidate-join exchanges are the pipeline's largest
    shuffles; this removes them.

    ``scm``: optional trained soft-cosine matrix (``operators.scm.
    train_scm``). When given, candidate and self-candidate pairs are
    re-scored with the trained quadratic form — the reference's headline
    trained-linkage path (`embedder.py:568-645`) — before thresholding and
    matching.

    ``jw_field``: optional name of a kept column (one of ``LINKAGE_KEEP``,
    e.g. ``"surname"``); when set, candidate sims are blended with
    batched Jaro-Winkler on that field —
    ``sim = (1-jw_weight)*sim + jw_weight*jw`` — the north star's
    Dice/Jaro-Winkler pair scoring
    (``operators.matching.jaro_winkler_rescore``).
    """
    import hashlib

    io = ParquetStageIO(base_dir)

    if bucket_blocks is None:
        bucket_blocks = spark.sparkContext.defaultParallelism
    bucket_blocks = bucket_blocks or None  # 0 -> disabled

    scm_tag = ""
    if scm is not None:
        scm_tag = hashlib.md5(scm.astype("float64").tobytes()).hexdigest()[:12]
    params = (
        f"thr={int(use_thresholds)};rounds={match_rounds};scm={scm_tag};"
        f"jw={jw_field}:{jw_weight if jw_field else ''};"
        f"bkt={bucket_blocks or 0};"
        f"in={_input_fingerprint(docs_a)},{_input_fingerprint(docs_b)}"
    )
    pipe = Pipeline(
        spark, config, io, run_id,
        run_params_hash=hashlib.md5(params.encode()).hexdigest()[:16],
    )

    emb_a = pipe.stage("embed_a", lambda: embed_documents(docs_a, config, keep=LINKAGE_KEEP))
    emb_b = pipe.stage("embed_b", lambda: embed_documents(docs_b, config, keep=LINKAGE_KEEP))

    blk_a = pipe.stage(
        "block_a",
        lambda: explode_blocks(add_block_keys(emb_a, config), include_indices=False),
        deps=["embed_a"],
        bucket=bucket_blocks,
    )
    blk_b = pipe.stage(
        "block_b",
        lambda: explode_blocks(add_block_keys(emb_b, config), include_indices=False),
        deps=["embed_b"],
        bucket=bucket_blocks,
    )

    cand = pipe.stage(
        "candidates",
        lambda: generate_candidates(blk_a, blk_b, config, min_sim=config.abs_cutoff),
        deps=["block_a", "block_b"],
    )
    if scm is not None:
        cand = pipe.stage(
            "scm_scored",
            lambda: _scm_rescore(cand, emb_a, emb_b, scm),
            deps=["candidates"],
        )
    if jw_field is not None:
        from pprl_spark.operators.matching import jaro_winkler_rescore

        jw_deps = ["scm_scored" if scm is not None else "candidates"]
        cand = pipe.stage(
            "jw_rescored",
            lambda: jaro_winkler_rescore(
                cand, emb_a, emb_b, jw_field, weight=jw_weight
            ),
            deps=jw_deps,
        )

    if use_thresholds:
        def self_pairs(blk, emb):
            # thresholds must come from the SAME scoring function as the
            # cross-pairs they mask (the reference's self-compare uses its
            # one similarity, embedder.py:115-135): apply the scm rescore
            # and/or the jw blend here exactly as the candidates stage did
            p = generate_candidates(blk, None, config)
            if scm is not None:
                p = _scm_rescore(p, emb, emb, scm)
            if jw_field is not None:
                from pprl_spark.operators.matching import jaro_winkler_rescore

                p = jaro_winkler_rescore(p, emb, None, jw_field, weight=jw_weight)
            return p

        thr_a = pipe.stage(
            "thresholds_a",
            lambda: row_thresholds(self_pairs(blk_a, emb_a)),
            deps=["block_a"],
        )
        thr_b = pipe.stage(
            "thresholds_b",
            lambda: row_thresholds(self_pairs(blk_b, emb_b)),
            deps=["block_b"],
        )
        masked = apply_thresholds(cand, thr_a, thr_b, config)
    else:
        masked = cand.where(F.col("sim") >= F.lit(config.abs_cutoff))

    if jw_field is not None:
        match_deps = ["jw_rescored"]
    elif scm is not None:
        match_deps = ["scm_scored"]
    else:
        match_deps = ["candidates"]
    if use_thresholds:
        match_deps += ["thresholds_a", "thresholds_b"]
    matches = pipe.stage(
        "matches", lambda: mutual_best_match(masked, rounds=match_rounds), deps=match_deps
    )
    pipe.stage("clusters", lambda: clusters_from_matches(matches), deps=["matches"])
    return pipe
