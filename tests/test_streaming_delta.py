"""Delta-match equivalence: incremental new-vs-all == batch over the union.

The streaming pattern (streaming/incremental.py) appends stream-embedded
documents to the stage table and periodically matches the delta. These
tests pin the exact decomposition it relies on:

  self_candidates(corpus ∪ delta)
    == self_candidates(corpus) ∪ delta_candidates(corpus, delta)

and therefore mutual-best matching over the incremental union equals a
from-scratch batch match over the full corpus.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pprl_spark.config import EmbedderConfig
from pprl_spark.operators.blocking import add_block_keys, explode_blocks
from pprl_spark.operators.candidates import generate_candidates
from pprl_spark.operators.embedding import embed_documents
from pprl_spark.operators.matching import mutual_best_match
from pprl_spark.sources.synthetic import synthesize_documents
from pprl_spark.streaming.incremental import delta_candidates, delta_match

KEEP = ["doc_id", "true_id"]


@pytest.fixture(scope="module")
def split_blocks(spark):
    """(corpus_blocks, delta_blocks, union_blocks) over 300 docs, 80/20."""
    cfg = EmbedderConfig()
    docs = synthesize_documents(spark, 300, "A")
    blocks = explode_blocks(
        add_block_keys(embed_documents(docs, cfg, keep=KEEP), cfg)
    ).localCheckpoint()
    is_delta = F.xxhash64("doc_id") % 5 == 0  # deterministic ~20% split
    corpus = blocks.where(~is_delta).localCheckpoint()
    delta = blocks.where(is_delta).localCheckpoint()
    return cfg, corpus, delta, blocks


def _pairs_set(df):
    return {
        (r["id1"], r["id2"], round(r["sim"], 9))
        for r in df.select("id1", "id2", "sim").collect()
    }


def test_delta_candidates_union_equivalence(split_blocks):
    cfg, corpus, delta, union = split_blocks
    batch = generate_candidates(union, None, cfg, cap=False)
    prior = generate_candidates(corpus, None, cfg, cap=False)
    new = delta_candidates(corpus, delta, cfg, cap=False)
    assert _pairs_set(batch) == _pairs_set(prior) | _pairs_set(new)
    # the delta really contributes pairs (the split is not degenerate)
    assert _pairs_set(new)
    # one row per pair: the sets above cannot see duplicate rows, and a
    # duplicate would corrupt the mutual-best ranking delta_match runs
    assert new.count() == new.select("id1", "id2").distinct().count()


def test_delta_match_equals_batch_match(split_blocks):
    cfg, corpus, delta, union = split_blocks
    batch_matches = mutual_best_match(
        generate_candidates(union, None, cfg, cap=False), self_linkage=True
    )
    prior = generate_candidates(corpus, None, cfg, cap=False).localCheckpoint()
    new = delta_candidates(corpus, delta, cfg, cap=False).localCheckpoint()
    inc_matches = delta_match(prior, new)
    assert _pairs_set(batch_matches) == _pairs_set(inc_matches)
    assert inc_matches.count() > 0


def test_delta_candidates_orientation(split_blocks):
    """All emitted pairs are id1 < id2 and involve >= 1 delta doc."""
    cfg, corpus, delta, _ = split_blocks
    new = delta_candidates(corpus, delta, cfg, cap=False)
    rows = new.collect()
    delta_ids = {r["doc_id"] for r in delta.select("doc_id").distinct().collect()}
    for r in rows:
        assert r["id1"] < r["id2"]
        assert r["id1"] in delta_ids or r["id2"] in delta_ids


def test_stream_exact_dedup_matches_batch_first_occurrence(spark, tmp_path):
    """Watermarked streaming dedup must keep exactly one survivor per
    normalized-text fingerprint across micro-batches (duplicates arrive
    in BOTH the same and a later batch), matching batch first-occurrence
    semantics over the same input."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pprl_spark.streaming.incremental import stream_exact_dedup

    in_dir, out_dir, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    texts = ["alpha beta", "Alpha  beta", "gamma delta", "unique one", "gamma DELTA "]
    b1 = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "ts": pd.to_datetime("2026-01-01 10:00:00"),
            "text": texts,
        }
    )
    # batch 2: re-ingests of docs 1 and 3's content plus one new text
    b2 = pd.DataFrame(
        {
            "doc_id": [6, 7, 8],
            "ts": pd.to_datetime("2026-01-01 10:30:00"),
            "text": ["ALPHA beta", "brand new", "gamma delta"],
        }
    )
    schema = "doc_id long, ts timestamp, text string"
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(in_dir)

    deduped = stream_exact_dedup(spark, in_dir)
    q = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.read.parquet(out_dir)
    # one survivor per fingerprint; 4 distinct normalized texts total
    # ("alpha beta" x3 incl. cross-batch, "gamma delta" x3, two uniques)
    assert out.count() == 4
    assert out.select("fp1", "fp2").distinct().count() == 4
    # the survivors' normalized texts cover exactly the distinct set
    norm = F.array_join(
        F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda w: w != F.lit("")),
        " ",
    )
    got = {r[0] for r in out.select(norm).collect()}
    assert got == {"alpha beta", "gamma delta", "unique one", "brand new"}


def test_append_ivf_index_equals_fresh_assignment(spark, tmp_path):
    """Probing after append_ivf_index must equal probing lists freshly
    assigned from the UNION under the same frozen centroids."""
    from pprl_spark.operators.ann import (
        append_ivf_index,
        ivf_assign,
        ivf_probe,
        read_ivf_index,
        write_ivf_index,
    )
    from tests.test_ann_recall import _make_vectors

    vecs = _make_vectors(spark, 1_200)
    queries = vecs.where("vec_id < 5").withColumnRenamed("vec_id", "query_id")
    base_corpus = vecs.where("vec_id >= 5 and vec_id < 800")
    delta = vecs.where("vec_id >= 800")

    base = str(tmp_path / "idx")
    write_ivf_index(base_corpus, base, n_centroids=12)
    append_ivf_index(delta, base)
    cent, lists = read_ivf_index(spark, base)

    got = ivf_probe(cent, lists, queries, k=5, nprobe=3)

    from pyspark.sql import functions as F

    union = base_corpus.unionByName(delta)
    fresh = ivf_assign(union, cent, nprobe=1).select("cent_id", "vec_id", "embedding")
    want = ivf_probe(cent, fresh, queries, k=5, nprobe=3)

    g = {(r["query_id"], r["vec_id"], r["rank"]) for r in got.collect()}
    w = {(r["query_id"], r["vec_id"], r["rank"]) for r in want.collect()}
    assert g == w
    # the appended delta is actually reachable: some result comes from it
    assert any(v >= 800 for (_, v, _) in g)


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """Streaming decontamination over a static benchmark gram table must
    emit the same (doc_id, n_shared) rows as the batch operator."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pprl_spark.operators.corpus import decontaminate
    from pprl_spark.streaming.incremental import stream_decontaminate

    in_dir, out_dir, ck = (
        str(tmp_path / "din"),
        str(tmp_path / "dout"),
        str(tmp_path / "dck"),
    )
    bench = spark.createDataFrame(
        [(100, "a b c d e")], "doc_id long, text string"
    )
    arrivals = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "ts": pd.to_datetime("2026-01-01 10:00:00"),
            "text": [
                "a b c x y",      # shares gram "a b c"
                "x y z w v",      # clean
                "a b c d e f",    # shares "a b c", "b c d", "c d e"
            ],
        }
    )
    schema = "doc_id long, ts timestamp, text string"
    spark.createDataFrame(arrivals, schema).coalesce(1).write.parquet(in_dir)

    # append mode would hold rows until the watermark closes each
    # event-time window, which a single availableNow run never reaches;
    # complete mode into a memory sink reads the final counts directly
    out = stream_decontaminate(spark, in_dir, bench, n=3)
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("decon_counts")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["n_shared"])
        for r in spark.sql("SELECT * FROM decon_counts").collect()
    }
    want = {
        (r["doc_id"], r["n_shared"])
        for r in decontaminate(
            spark.read.parquet(in_dir), bench, n=3
        ).collect()
    }
    assert got == want == {(1, 1), (3, 3)}


def test_asof_stream_matches_batch_under_ordered_replay(spark, tmp_path):
    """Streaming as-of must equal the batch asof_join when events arrive
    in event-time order across micro-batches (the streaming contract);
    the batch twin runs over the identical rows."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pprl_spark.operators.events import asof_join
    from pprl_spark.streaming.incremental import asof_stream

    in_dir, out_dir, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    t0 = pd.Timestamp("2026-01-01 10:00:00")

    def mk(rows):
        return pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [t0 + pd.Timedelta(seconds=r[1]) for r in rows],
                "user_id": [r[2] for r in rows],
                "event_type": [r[3] for r in rows],
                "value": [float(r[0]) for r in rows],
                "props": "{}",
            }
        )

    # (event_id, t_offset_s, user, type); batch 2 strictly later in
    # event time than batch 1 (ordered replay)
    b1 = mk([(1, 0, 1, "error"), (2, 5, 1, "view"), (3, 5, 2, "view"),
             (4, 8, 1, "error"), (5, 8, 1, "error"), (6, 9, 1, "view")])
    b2 = mk([(7, 20, 2, "error"), (8, 25, 2, "view"), (9, 30, 1, "view")])
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(in_dir)

    q = (
        asof_stream(spark, in_dir)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_id"]: (r["asof_event_id"], r["asof_value"])
        for r in spark.read.parquet(out_dir).collect()
    }

    ev = spark.createDataFrame(pd.concat([b1, b2]), schema)
    left = ev.where(F.col("event_type") == "view").select("event_id", "ts", "user_id", "value")
    right = ev.where(F.col("event_type") == "error").select("event_id", "ts", "user_id", "value")
    exp = {
        r["event_id"]: (
            r["asof_event_id"] if r["asof_event_id"] is not None else -1,
            r["asof_value"] if r["asof_value"] is not None else -1.0,
        )
        for r in asof_join(left, right).collect()
    }
    assert got == exp
    # spot-check the semantics: equal-ts tie at t=8 resolves to max id (5)
    assert got[6] == (5, 5.0)
    # user 2's first view precedes any error -> sentinel
    assert got[3] == (-1, -1.0)


def test_stream_near_duplicates_matches_batch_probe(spark, tmp_path):
    """Arriving docs probing the static MinHash index must emit the same
    delta-vs-corpus pairs as the batch delta probe."""
    import random

    import pandas as pd

    from pprl_spark.operators.dedup import delta_near_duplicates, minhash_index
    from pprl_spark.streaming.incremental import stream_near_duplicates

    rng = random.Random(19)
    vocab = [f"w{i}" for i in range(30)]
    corpus_rows, delta_rows = [], []
    for i in range(150):
        words = [rng.choice(vocab) for _ in range(rng.randint(4, 15))]
        corpus_rows.append((i, " ".join(words)))
        if rng.random() < 0.3:  # an arriving near-copy of a corpus doc
            mut = list(words)
            mut[rng.randrange(len(mut))] = rng.choice(vocab)
            delta_rows.append((1000 + i, " ".join(mut)))
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    kw = dict(k=2, bands=4, rows_per_band=2)
    idx = minhash_index(corpus, **kw)

    in_dir = str(tmp_path / "arrivals")
    ck = str(tmp_path / "ck")
    arrivals = pd.DataFrame(
        {
            "doc_id": [i for i, _ in delta_rows],
            "ts": pd.to_datetime("2026-01-01 10:00:00"),
            "text": [t for _, t in delta_rows],
        }
    )
    schema = "doc_id long, ts timestamp, text string"
    spark.createDataFrame(arrivals, schema).coalesce(1).write.parquet(in_dir)

    out = stream_near_duplicates(
        spark, in_dir, idx, threshold=0.4, **kw
    )
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_ndups")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (min(r.doc_id, r.corpus_id), max(r.doc_id, r.corpus_id), r.jaccard)
        for r in spark.sql("SELECT * FROM stream_ndups").collect()
    }

    delta = spark.createDataFrame(delta_rows, "doc_id long, text string")
    batch = delta_near_duplicates(idx, delta, threshold=0.4, **kw)
    # the streaming twin covers delta-vs-corpus only (documented):
    # restrict the batch result to cross pairs (corpus ids < 1000)
    want = {
        (r.id1, r.id2, r.jaccard)
        for r in batch.collect()
        if min(r.id1, r.id2) < 1000
    }
    assert got == want
    assert got  # non-vacuous


def test_anomaly_stream_matches_batch_under_ordered_replay(spark, tmp_path):
    """The streaming trailing-window z-scorer equals the batch operator
    exactly (bit-level micro-units) when count rows replay in window
    order — including across micro-batch boundaries, where the ring
    state carries the trailing counts over."""
    import math
    import random
    from datetime import datetime, timedelta

    from pprl_spark.operators.events import windowed_anomaly
    from pprl_spark.streaming.incremental import anomaly_stream

    rng = random.Random(17)
    base = datetime(2026, 1, 1)
    ev_rows = []
    eid = 0
    counts = {}
    for h in range(14):
        for etype in ("click", "view"):
            c = rng.randrange(1, 9) if (h, etype) != (12, "click") else 40
            counts[(etype, h)] = c
            for i in range(c):
                ev_rows.append(
                    (eid, base + timedelta(hours=h, minutes=i % 50), 1, etype)
                )
                eid += 1
    ev = spark.createDataFrame(
        ev_rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    batch = {
        (r.event_type, r.window_start): (r.n_events, r.n_prev, r.mean_u, r.z_u)
        for r in windowed_anomaly(ev, trailing=6, min_windows=3).collect()
    }

    # replay the count rows in window order, split over TWO micro-batches
    in_dir, out_dir, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    epoch = int(base.timestamp())
    crows = sorted(
        (t, epoch + 3600 * h, c) for (t, h), c in counts.items()
    )
    half = [r for r in crows if r[1] < epoch + 3600 * 7]
    rest = [r for r in crows if r[1] >= epoch + 3600 * 7]
    schema = "event_type string, window_start long, n_events long"
    spark.createDataFrame(half, schema).coalesce(1).write.mode("append").parquet(in_dir)

    def run():
        q = (
            anomaly_stream(spark, in_dir, trailing=6, min_windows=3)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    spark.createDataFrame(rest, schema).coalesce(1).write.mode("append").parquet(in_dir)
    run()

    streamed = {
        (r.event_type, r.window_start): (r.n_events, r.n_prev, r.mean_u, r.z_u)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert streamed == batch
    # the engineered spike is present and unambiguous
    spike = batch[("click", epoch + 3600 * 12)]
    assert spike[0] == 40 and spike[3] > 2_000_000
