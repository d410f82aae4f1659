"""Normalize + embed stages: spans -> field columns -> Bloom indices.

Stage 1 (normalize) is pure built-in Spark: sort spans by offset, parse
``field=value`` text payloads into a map, collect media refs — no Python.
The source rows pass through untouched, preserving the per-row invariant
span-sequence equality (kind, text, media_ref, order) required by
BASELINE.json's input_hint.

Stage 2 (embed) is the single Arrow round-trip described in
``functions.features``: per-field token kernels + per-row union
(`/root/reference/src/pprl/embedder/embedder.py:449-454`) + salted SHA-256
Bloom hashing (`bloom_filters.py:69-79`). Norms use the identity-SCM fast
path ``sqrt(|bf_indices|)`` natively (`embedder.py:137-139`; the trained
SCM path lives in ``operators.scm``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql import types as T

from pprl_spark.config import EmbedderConfig
from pprl_spark.functions.hashing import bloom_indices_with_collisions, pack_bitmap
from pprl_spark.operators.blocking import minhash_signatures

# Rows per Python task of the embed stage, sized for the pair joins
# downstream (see `embed_documents`); a task's fixed 0.11-0.16 s of CPU
# (4-vCPU host, workers forked from `pprl_spark._daemon`) is under 10% of
# a full one at 0.2-0.25 ms of kernel work per document. It is also below
# `spark.sql.execution.arrow.maxRecordsPerBatch` (10000): one Arrow batch,
# one hash memo per task.
ROWS_PER_PYTHON_TASK = 8192

SPAN_ORDERED = "array_sort(transform(spans, s -> struct(s.offset as offset, s.kind as kind, s.text as text, s.media_ref as media_ref)))"


def normalize_documents(df: DataFrame, config: EmbedderConfig) -> DataFrame:
    """Extract colspec field columns from the spans array, JVM-side only.

    Emits the original columns plus one string column per colspec field.
    Text spans carry ``field=value`` payloads (FIXTURES.md §1); media
    spans contribute a whitespace-joined ``media_ref`` list in offset
    order.
    """
    ordered = F.expr(SPAN_ORDERED)
    entries = F.transform(
        F.filter(ordered, lambda s: (s["kind"] == "text") & s["text"].isNotNull()),
        lambda s: F.struct(
            F.substring_index(s["text"], "=", 1).alias("key"),
            F.substr(
                s["text"], F.instr(s["text"], "=") + F.lit(1), F.length(s["text"])
            ).alias("value"),
        ),
    )
    out = df.withColumn("_fields", F.map_from_entries(entries))
    media = F.array_join(
        F.transform(
            F.filter(ordered, lambda s: (s["kind"] == "media") & s["media_ref"].isNotNull()),
            lambda s: s["media_ref"],
        ),
        " ",
    )
    for field, ftype in config.colspec.items():
        if ftype == "media":
            out = out.withColumn(field, F.nullif(media, F.lit("")))
        else:
            out = out.withColumn(field, F.col("_fields").getItem(field))
    return out.drop("_fields")


def bloom_batch(
    feature_lists,
    bf_size: int,
    num_hashes: int,
    offset: int,
    salt: str,
    mh_perms: int,
) -> dict:
    """One Arrow batch of per-row feature sets -> the Bloom stage columns.

    Returns ``bf_indices``, ``bf_bitmap``, ``mh_sig`` and
    ``collision_fraction``, one list entry per input row. The hash memo is
    shared across the batch (repeated features hash once). The join-side
    bitmap and the MinHash signature are computed here, once per row, not
    as JVM higher-order functions: those are interpreted (never
    codegen'd) and can be re-evaluated per consumer — see
    ``functions.hashing.pack_bitmap``. ``minhash_signatures`` is the
    vectorized, bit-identical twin of ``blocking.minhash_col``.
    """
    memo: dict = {}
    n_words = -(-(bf_size + offset) // 64)
    idx_out, bm_out, coll_out = [], [], []
    for feats in feature_lists:
        idx, coll = bloom_indices_with_collisions(
            feats, bf_size, num_hashes, offset, salt, _memo=memo
        )
        idx_out.append(idx)
        bm_out.append(pack_bitmap(idx, n_words))
        coll_out.append(coll)
    return {
        "bf_indices": idx_out,
        "bf_bitmap": bm_out,
        "mh_sig": minhash_signatures(idx_out, mh_perms),
        "collision_fraction": coll_out,
    }


def embed_documents(
    df: DataFrame,
    config: EmbedderConfig,
    keep: list[str] | None = None,
) -> DataFrame:
    """Embed a documents DataFrame into Bloom space.

    Returns ``keep + colspec fields + features + bf_indices + bf_norms +
    collision_fraction``. ``anonymise``-style projection
    (`embedder.py:160-181`) is a plain ``select`` on the result.

    The Python stage is a ``mapInPandas`` operator (not a column pandas
    UDF): one Arrow round-trip per batch, a shared hash memo across the
    batch, and — unlike expression-level UDFs — it cannot be dropped by
    Spark 4.1's Python-UDF extraction on re-executed shared plans.
    Columns not needed downstream are pruned *before* the Python stage so
    only requested passthrough columns cross the Arrow boundary.

    The Python stage runs on ``ceil(rows / ROWS_PER_PYTHON_TASK)`` tasks,
    never more than the input has partitions (``coalesce`` never splits).
    Rows, not upstream partitions, size it, for the plan downstream: the
    few row-sized partitions it emits let the pair joins probe without
    partitioning that side again. In a traced A/B on a 4-vCPU host (3
    seeds, 6 pairs), embedding on the input's own partitions instead ran
    ``candidates`` in 13 jobs rather than 7 and ``incremental`` in 17
    rather than 11, and the ``linkage`` pass used more CPU in 5 of 6
    pairs, although its Python tasks, forked from
    :mod:`pprl_spark._daemon`, no longer re-read ``pyspark.zip``. A Python
    task now costs 0.11-0.16 s of CPU, the kernel 0.2-0.25 ms per document.
    A batch input's projection is an eager
    ``localCheckpoint`` first, so the row ``count`` scans the checkpoint
    and never re-runs a lazy upstream (a generator, a join).
    A streaming input (``stream_embed``) cannot be counted or
    checkpointed and keeps its partitioning.
    """
    df = normalize_documents(df, config)
    fields = [f for f in config.colspec if f in df.columns]
    if keep is not None:
        passthrough = [c for c in dict.fromkeys(keep + fields) if c in df.columns]
        df = df.select(*passthrough)
    if not df.isStreaming:
        df = df.localCheckpoint()
        df = df.coalesce(max(1, -(-df.count() // ROWS_PER_PYTHON_TASK)))

    colspec = dict(config.colspec)
    ff_args = {k: dict(v) for k, v in config.ff_args.items()}
    bf_size, num_hashes, offset, salt = (
        config.bf_size,
        config.num_hashes,
        config.offset,
        config.salt,
    )
    in_fields = [f.name for f in df.schema.fields]
    mh_perms = config.minhash_perms
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("features", T.ArrayType(T.StringType())),
            T.StructField("bf_indices", T.ArrayType(T.IntegerType())),
            T.StructField("bf_bitmap", T.ArrayType(T.LongType())),
            T.StructField("mh_sig", T.ArrayType(T.LongType())),
            T.StructField("collision_fraction", T.DoubleType()),
        ]
    )

    def kernel(batches):
        from pprl_spark.functions import tokens as TK

        kernels = TK.FEATURE_KERNELS
        plan = []
        for field, ftype in colspec.items():
            if field not in in_fields:
                continue
            kw = dict(ff_args.get(ftype, {}))
            if ftype in ("misc", "shingled"):
                kw.setdefault("label", field)
            plan.append((field, kernels[ftype], kw))

        for pdf in batches:
            feats_out = []
            cols = {field: pdf[field].to_numpy() for field, _, _ in plan}
            for i in range(len(pdf)):
                per_col = []
                for field, kern, kw in plan:
                    v = cols[field][i]
                    if v is not None and not isinstance(v, str):
                        v = None if v != v else v  # NaN -> None
                    per_col.append(kern(v, **kw))
                feats_out.append(sorted(TK.union_features(per_col)))
            yield pdf.assign(
                features=feats_out,
                **bloom_batch(feats_out, bf_size, num_hashes, offset, salt, mh_perms),
            )

    emb = df.mapInPandas(kernel, out_schema)
    # identity-SCM norm fast path (embedder.py:137-139); guard empty rows
    emb = emb.withColumn(
        # "bf_norms" PLURAL: the reference EDF column-naming surface
        # (embedder.py:60-64,83-89) that update_norms()/compare() consume
        "bf_norms",
        F.when(F.size("bf_indices") > 0, F.sqrt(F.size("bf_indices"))).otherwise(F.lit(0.0)),
    )
    if keep is not None:
        cols = list(dict.fromkeys(keep + ["features", "bf_indices", "bf_bitmap", "mh_sig", "bf_norms", "collision_fraction"]))
        emb = emb.select(*[c for c in cols if c in emb.columns])
    return emb

