"""Spark embed stage vs the pure-Python oracle + invariants.

- Feature/bf_indices parity between the vectorized UDF and a plain-Python
  re-run of the same kernels (the reference-semantics oracle).
- Span-sequence invariant: (kind, text, media_ref, order) untouched
  (BASELINE.json input_hint; FIXTURES.md §6).
- Identity-SCM norm: bf_norms == sqrt(|bf_indices|) (embedder.py:137-139).
- Golden: "doris smith" + sex column (test_embedder.py:190-216).
- Python task count follows rows (``ROWS_PER_PYTHON_TASK``), and a lazy
  input is evaluated once despite the row count.
"""

import math

import pytest
from pyspark.sql import functions as F

from pprl_spark.config import EmbedderConfig
from pprl_spark.functions import tokens
from pprl_spark.functions.hashing import bloom_indices_with_collisions
from pprl_spark.operators.embedding import (
    ROWS_PER_PYTHON_TASK,
    embed_documents,
    normalize_documents,
)
from pprl_spark.sources.synthetic import synthesize_documents

CFG = EmbedderConfig()


@pytest.fixture(scope="module")
def docs(spark):
    return synthesize_documents(spark, 60, source="B", seed=7).cache()


def _oracle_row(fields: dict) -> tuple[list[str], list[int]]:
    per_col = []
    for field, ftype in CFG.colspec.items():
        kernel = tokens.FEATURE_KERNELS[ftype]
        kw = dict(CFG.ff_args.get(ftype, {}))
        if ftype in ("misc", "shingled"):
            kw.setdefault("label", field)
        per_col.append(kernel(fields.get(field), **kw))
    feats = tokens.union_features(per_col)
    idx, _ = bloom_indices_with_collisions(
        feats, CFG.bf_size, CFG.num_hashes, CFG.offset, CFG.salt
    )
    return sorted(feats), idx


def test_embed_matches_oracle(spark, docs):
    emb = embed_documents(docs, CFG).select(
        "doc_id", *CFG.colspec.keys(), "features", "bf_indices"
    )
    rows = {r["doc_id"]: r for r in emb.collect()}
    assert len(rows) == 60
    for doc_id, r in rows.items():
        fields = {f: r[f] for f in CFG.colspec}
        exp_feats, exp_idx = _oracle_row(fields)
        assert sorted(r["features"]) == exp_feats, doc_id
        assert list(r["bf_indices"]) == exp_idx, doc_id


def test_span_sequence_invariant(spark, docs):
    emb = embed_documents(docs, CFG, keep=["doc_id", "spans"])
    joined = (
        docs.select("doc_id", F.col("spans").alias("spans_in"))
        .join(emb.select("doc_id", "spans"), "doc_id")
        .collect()
    )
    assert len(joined) == 60
    for r in joined:
        seq_in = [(s["kind"], s["text"], s["media_ref"]) for s in sorted(r["spans_in"], key=lambda s: s["offset"])]
        seq_out = [(s["kind"], s["text"], s["media_ref"]) for s in sorted(r["spans"], key=lambda s: s["offset"])]
        assert seq_in == seq_out


def test_norm_identity_path(spark, docs):
    emb = embed_documents(docs, CFG)
    for r in emb.select("bf_indices", "bf_norms").collect():
        assert r["bf_norms"] == pytest.approx(math.sqrt(len(r["bf_indices"])))


def test_collision_fraction_range(spark, docs):
    vals = [r[0] for r in embed_documents(docs, CFG).select("collision_fraction").collect()]
    assert all(0.0 <= v < 1.0 for v in vals)


def test_doris_smith_golden(spark):
    # test_embedder.py:190-216: name bigrams + sex feature, unioned
    cfg = EmbedderConfig(
        colspec={"column1": "name", "column2": "sex"},
        ff_args={"name": {"ngram_length": [2]}},
    )
    df = spark.createDataFrame(
        [
            (
                "d1",
                [
                    {"kind": "text", "text": "column1=doris smith", "media_ref": None, "offset": 0},
                    {"kind": "text", "text": "column2=jxr", "media_ref": None, "offset": 1},
                ],
            )
        ],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    row = embed_documents(df, cfg).select("features").collect()[0]
    assert set(row["features"]) == {
        "_d", "do", "or", "ri", "is", "s_", "_s", "sm", "mi", "it", "th", "h_", "sex<j>",
    }


def test_normalize_extracts_fields(spark, docs):
    norm = normalize_documents(docs, CFG)
    r = norm.select("given_name", "surname", "sex", "media_ref").first()
    assert r["given_name"] is not None and r["surname"] is not None
    assert r["media_ref"].startswith("img://")


def test_determinism_across_partitioning(spark):
    a1 = synthesize_documents(spark, 40, "A", seed=3, partitions=1)
    a2 = synthesize_documents(spark, 40, "A", seed=3, partitions=7)
    e1 = {r["doc_id"]: r["bf_indices"] for r in embed_documents(a1, CFG).select("doc_id", "bf_indices").collect()}
    e2 = {r["doc_id"]: r["bf_indices"] for r in embed_documents(a2, CFG).select("doc_id", "bf_indices").collect()}
    assert e1 == e2


def test_minhash_sig_kernel_matches_jvm_fold(spark):
    """The embed kernel's vectorized numpy MinHash signature must be
    bit-identical to blocking.minhash_col (the JVM fold it replaces),
    including empty-index rows (null-filled signature), and the block
    keys derived from it must be identical end-to-end."""
    from pprl_spark.operators.blocking import (
        add_block_keys,
        minhash_col,
        minhash_signatures,
    )

    cfg = EmbedderConfig(abs_cutoff=0.3)
    docs = synthesize_documents(spark, 500, "T")
    emb = embed_documents(docs, cfg, keep=["doc_id"]).localCheckpoint()
    assert "mh_sig" in emb.columns
    bad = emb.withColumn(
        "_jvm", minhash_col("bf_indices", cfg.minhash_perms)
    ).where(~F.col("_jvm").eqNullSafe(F.col("mh_sig")))
    assert bad.count() == 0
    # python-level empty-row semantics match the fold's null-filled init
    assert minhash_signatures([[]], 4) == [[None, None, None, None]]
    bk_new = add_block_keys(emb, cfg).select(
        "doc_id", F.explode("block_keys").alias("k")
    )
    bk_old = add_block_keys(emb.drop("mh_sig"), cfg).select(
        "doc_id", F.explode("block_keys").alias("k")
    )
    assert bk_new.exceptAll(bk_old).count() == 0
    assert bk_old.exceptAll(bk_new).count() == 0
    # the signature column is internal: consumed and dropped
    assert "mh_sig" not in add_block_keys(emb, cfg).columns


def _jvm_docs(spark, n: int, partitions: int):
    """``n`` one-field documents built JVM-side (no Python runs)."""
    return spark.range(n, numPartitions=partitions).select(
        F.col("id").cast("string").alias("doc_id"),
        F.expr(
            "array(named_struct('kind', 'text', 'text', concat('given_name=n', id),"
            " 'media_ref', cast(null as string), 'offset', 0))"
        ).alias("spans"),
    )


def test_embed_python_tasks_follow_rows(spark):
    """ceil(rows / ROWS_PER_PYTHON_TASK) Python tasks, never more than the
    input's partitions. Plan-only: the checkpoint and the count are JVM jobs."""
    cases = [(1000, 4, 1), (3 * ROWS_PER_PYTHON_TASK + 1, 16, 4), (3 * ROWS_PER_PYTHON_TASK, 2, 2)]
    for n, parts, tasks in cases:
        emb = embed_documents(_jvm_docs(spark, n, parts), CFG, keep=["doc_id"])
        assert emb.rdd.getNumPartitions() == tasks, (n, parts)


def test_embed_evaluates_lazy_input_once(spark):
    """Sizing the Python stage counts the input; the count must scan the
    checkpoint, not re-run a lazy Python-generated upstream."""
    n = 300
    rows_seen = spark.sparkContext.accumulator(0)
    seed = synthesize_documents(spark, n, "A", seed=5, partitions=3).localCheckpoint()

    def generator(batches):
        for pdf in batches:
            rows_seen.add(len(pdf))
            yield pdf

    lazy = seed.mapInPandas(generator, seed.schema)
    got = embed_documents(lazy, CFG, keep=["doc_id"]).select("bf_indices").collect()
    assert len(got) == n
    assert rows_seen.value == n
