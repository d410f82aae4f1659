"""Dedup, ANN, multimodal, private-index, SCM, streaming extensions."""

import math

import pytest
from pyspark.sql import functions as F

from pprl_spark.config import EmbedderConfig
from pprl_spark.operators.ann import brute_force_topk, lsh_topk
from pprl_spark.operators.dedup import (
    exact_duplicates,
    minhash_near_duplicates,
    simhash_near_duplicates,
)
from pprl_spark.operators.multimodal import media_features, synthesize_media
from pprl_spark.operators.private_index import add_private_index
from pprl_spark.operators.scm import soft_cosine_pairs_native, train_scm


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog", "en"),  # near dup
        (4, "completely different text about spark engines", "en"),
        (5, "El rapido zorro marron salta sobre el perro", "es"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string").cache()


def test_exact_duplicates(spark, corpus):
    got = {(r["doc_id"], r["canonical_id"]) for r in exact_duplicates(corpus).collect()}
    assert got == {(1, 1), (2, 1)}


def test_exact_dup_fingerprint_halves_independent(spark):
    """The 128-bit fingerprint must be two INDEPENDENT 64-bit hashes.

    Spark's multi-arg xxhash64 seeds each argument with the running hash,
    so xxhash64(s, 1) is a pure function of xxhash64(s) — any fp1
    collision would silently imply an fp2 collision and the pair is
    really 64 bits. Salt-first (xxhash64(1, s)) hashes the text under a
    different running seed. Pin that the trailing-salt and leading-salt
    forms differ (they'd be equal only if the salt position didn't
    matter), and that the dedup output groups by norm text exactly.
    """
    df = spark.range(1).select(
        F.xxhash64(F.lit("abc")).alias("h"),
        F.xxhash64(F.lit("abc"), F.lit(1)).alias("trailing"),
        F.xxhash64(F.lit(1), F.lit("abc")).alias("leading"),
    )
    r = df.collect()[0]
    assert r["leading"] != r["trailing"]
    assert r["leading"] != r["h"]
    # functional check: whitespace-normalized equal texts merge; distinct don't
    rows = [(10, "a  b\tc"), (11, " a b c "), (12, "a b d")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["canonical_id"]) for r in exact_duplicates(docs).collect()}
    assert got == {(10, 10), (11, 10)}


def test_minhash_near_duplicates(spark, corpus):
    pairs = {
        (r["id1"], r["id2"])
        for r in minhash_near_duplicates(corpus, k=2, threshold=0.5).collect()
    }
    assert (1, 2) in pairs  # identical docs always collide at J=1.0
    assert all(p[0] < p[1] for p in pairs)


def test_ngram_jaccard_pairs(spark, corpus):
    # n-gram Jaccard is the MinHash path's exact verify: scores are shingle-set Jaccard
    pairs = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in minhash_near_duplicates(corpus, k=2, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) in pairs  # one-word edit keeps most 2-shingles
    assert (1, 4) not in pairs


def test_simhash_near_duplicates(spark, corpus):
    pairs = {(r["id1"], r["id2"]): r["hamming"] for r in simhash_near_duplicates(
        corpus, max_hamming=6
    ).collect()}
    assert pairs[(1, 2)] == 0  # identical signature
    assert all(h <= 6 for h in pairs.values())


@pytest.fixture(scope="module")
def vectors(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_brute_force_topk_exact(spark, vectors):
    queries = vectors.where("vec_id < 3").withColumnRenamed("vec_id", "query_id")
    got = brute_force_topk(vectors.where("vec_id >= 3"), queries, k=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cos"]))
    # verify against a driver-side exact computation
    data = {r["vec_id"]: r["embedding"] for r in vectors.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    for q, rows in by_q.items():
        expected = sorted(
            ((cos(data[q], v), -i) for i, v in data.items() if i >= 3), reverse=True
        )[:4]
        got_ids = [vid for _, vid, _ in sorted(rows)]
        exp_ids = [-negid for _, negid in expected]
        assert got_ids == exp_ids, q


def test_lsh_topk_recall(spark, vectors):
    queries = vectors.where("vec_id < 5").withColumnRenamed("vec_id", "query_id")
    corpus = vectors.where("vec_id >= 5")
    exact = brute_force_topk(corpus, queries, k=1).collect()
    approx = {
        (r["query_id"], r["vec_id"])
        for r in lsh_topk(corpus, queries, dim=16, k=1, n_planes=6).collect()
        if r["rank"] == 1
    }
    hits = sum(1 for r in exact if (r["query_id"], r["vec_id"]) in approx)
    assert hits >= 3  # multiprobe recall on top-1 (5 queries)


def test_ivf_topk_recall(spark, vectors):
    from pprl_spark.operators.ann import ivf_topk

    queries = vectors.where("vec_id < 5").withColumnRenamed("vec_id", "query_id")
    corpus = vectors.where("vec_id >= 5")
    exact = brute_force_topk(corpus, queries, k=1).collect()
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(corpus, queries, k=1, n_centroids=8, nprobe=4).collect()
        if r["rank"] == 1
    }
    hits = sum(1 for r in exact if (r["query_id"], r["vec_id"]) in approx)
    assert hits >= 3  # nprobe=4 of 8 lists recovers most top-1s (5 queries)
    # every query produces results and ranks are dense from 1
    got = ivf_topk(corpus, queries, k=3, n_centroids=8, nprobe=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(by_q) == {0, 1, 2, 3, 4}
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())


def test_media_metadata(spark):
    from pprl_spark.operators.multimodal import media_metadata

    media = synthesize_media(spark, 20)
    rows = {r["media_ref"]: r for r in media_metadata(media).collect()}
    src = {r["media_ref"]: r for r in media.collect()}
    assert len(rows) == 20
    import hashlib

    for ref, r in rows.items():
        assert r["n_bytes"] == len(src[ref]["payload"])
        assert r["payload_sha256"] == hashlib.sha256(src[ref]["payload"]).hexdigest()
        assert r["width"] == src[ref]["meta"]["width"]


def test_multimodal_plumbing(spark):
    media = synthesize_media(spark, 30)
    feats = media_features(media, dim=8)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r["feature"]) == 8
        assert r["n_bytes"] > 0 and len(r["sha1"]) == 40
    # determinism
    again = {r["media_ref"]: r["sha1"] for r in media_features(synthesize_media(spark, 30), dim=8).collect()}
    assert {r["media_ref"]: r["sha1"] for r in rows} == again


def test_decode_image_stub():
    from pprl_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"bytes")
    assert len(decode_image(b"bytes", strict=False)) == 16


def test_private_index(spark):
    df1 = spark.createDataFrame([(f"a{i}",) for i in range(8)], "doc_id string")
    df2 = spark.createDataFrame([(f"b{i}",) for i in range(6)], "doc_id string")
    matches = spark.createDataFrame(
        [("a0", "b0"), ("a1", "b3"), ("a5", "b2")], "id1 string, id2 string"
    )
    out1, out2 = add_private_index(spark, df1, df2, matches, size_assumed=100, seed=7)
    i1 = {r["doc_id"]: r["private_index"] for r in out1.collect()}
    i2 = {r["doc_id"]: r["private_index"] for r in out2.collect()}
    # matched pairs share an index (perform.py semantics)
    assert i1["a0"] == i2["b0"] and i1["a1"] == i2["b3"] and i1["a5"] == i2["b2"]
    # all indices unique within the union minus shared pairs; in range
    all_idx = list(i1.values()) + [v for k, v in i2.items() if k not in ("b0", "b3", "b2")]
    assert len(set(all_idx)) == len(all_idx) == 8 + 6 - 3
    assert all(100 <= v < 300 for v in all_idx)
    # many-to-one rejected
    bad = spark.createDataFrame([("a0", "b0"), ("a0", "b1")], "id1 string, id2 string")
    with pytest.raises(AssertionError):
        add_private_index(spark, df1, df2, bad, size_assumed=100, seed=7)


def test_scm_training_and_scoring(spark):
    cfg = EmbedderConfig(bf_size=64)
    # aligned "matches": rows share most indices; negatives are shuffled
    rows = [
        ([1, 2, 3], [1, 2, 4]),
        ([5, 6, 7], [5, 6, 8]),
        ([9, 10, 11], [9, 10, 12]),
        ([13, 14], [13, 14]),
    ]
    aligned = spark.createDataFrame(
        rows, "bf_indices_1 array<int>, bf_indices_2 array<int>"
    )
    trained = train_scm(aligned, cfg, seed=3)
    scm = trained["scm"]
    assert scm.shape == (64, 64)
    # PSD: all eigenvalues >= -tolerance
    import numpy as np

    eig = np.linalg.eigvalsh((scm + scm.T) / 2)
    assert eig.min() >= -1e-4
    # trained scoring runs and scores aligned (matched) pairs higher than
    # a mismatched pair
    emb = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [1, 2, 4]), (3, [5, 6, 8])],
        "doc_id long, bf_indices array<int>",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id1 long, id2 long")
    sims = {
        r["id2"]: r["sim"]
        for r in soft_cosine_pairs_native(pairs, emb, emb, scm).collect()
    }
    # degenerate (norm-0) pairs score NULL under a barely-trained matrix
    assert sims[2] is not None
    assert sims[3] is None or sims[2] > sims[3]


def test_stream_windowed_stats_matches_batch(spark, tmp_path):
    """Watermarked streaming windows == batch aggregation for every window
    the watermark finalized (append mode withholds windows newer than
    max(ts) - watermark — the late-data contract)."""
    from pprl_spark.operators.events import windowed_event_stats
    from pprl_spark.streaming.incremental import start_parquet_append, stream_windowed_stats

    src, out, ckpt = str(tmp_path / "ev"), str(tmp_path / "out"), str(tmp_path / "ck")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.write.parquet(src)

    q = start_parquet_append(stream_windowed_stats(spark, src), out, ckpt)
    q.awaitTermination(120)
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"], r["sum_k"])
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"], r["sum_k"])
        for r in windowed_event_stats(ev, exact_users=False).collect()
    }
    assert streamed, "watermark finalized no windows"
    for key, vals in streamed.items():
        assert batch[key] == vals, key
    # only the tail (within the 2h watermark of max ts) may be withheld
    max_ts = ev.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    withheld = set(batch) - set(streamed)
    assert all(ws >= max_ts - 3 * 3600 for ws, _ in withheld), withheld


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization == batch lag/running-sum
    sessionization for every gap-closed session. Each user's final open
    session stays in state (availableNow stops before its event-time
    timeout fires) — exactly the set difference we assert."""
    from pprl_spark.operators.events import sessionize_batch
    from pprl_spark.streaming.incremental import sessionize_stream

    src, out, ckpt = str(tmp_path / "ev"), str(tmp_path / "out"), str(tmp_path / "ck")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.write.parquet(src)

    q = (
        sessionize_stream(spark, src, gap_minutes=30)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    batch_rows = sessionize_batch(ev, gap_minutes=30).collect()
    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch_rows
    }
    assert streamed, "no sessions emitted"
    assert streamed <= batch
    # availableNow runs several micro-batches, so the event-time TIMEOUT
    # path flushes most open sessions too; only sessions still open when
    # the final watermark stopped advancing may be withheld — each must be
    # (a) its user's LAST session and (b) end within 2x gap of max(ts)
    last_starts = {}
    for r in batch_rows:
        last_starts[r["user_id"]] = max(
            last_starts.get(r["user_id"], 0), r["session_start"]
        )
    max_ts = ev.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    withheld = batch - streamed
    assert withheld, "expected at least the final open session to be withheld"
    for user_id, ss, se, _n in withheld:
        assert ss == last_starts[user_id], (user_id, ss)
        assert se >= max_ts - 2 * 30 * 60, (user_id, se, max_ts)


def test_stream_embed(spark, tmp_path):
    from pprl_spark.sources.synthetic import synthesize_documents
    from pprl_spark.streaming.incremental import start_parquet_append, stream_embed

    cfg = EmbedderConfig()
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    synthesize_documents(spark, 25, "A").write.parquet(src)
    q = start_parquet_append(stream_embed(spark, src, cfg), out, ckpt)
    q.awaitTermination(120)
    result = spark.read.parquet(out)
    assert result.count() == 25
    assert "bf_indices" in result.columns and "block_keys" in result.columns
    # incremental: drop more files, rerun with same checkpoint -> only delta
    synthesize_documents(spark, 10, "B").write.mode("append").parquet(src)
    q2 = start_parquet_append(stream_embed(spark, src, cfg), out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 35


def test_sessionize_stream_late_event_min_max(spark, tmp_path):
    """A late-but-within-watermark event arriving in a LATER micro-batch
    must extend the open session with min/max bounds, never move
    session_end (and the event-time timeout) backwards.

    Two parquet files + maxFilesPerTrigger=1 force two micro-batches:
    batch 1 carries t0 and t0+20min for user 7; batch 2 carries a LATE
    event at t0+5min (inside the 30min watermark) plus a far-future event
    for another user that closes user 7's session by gap. The closed
    session must span [t0, t0+20min] with 3 events — the pre-fix fold
    would have set session_end to the late t0+5min.
    """
    import time as _time

    from pprl_spark.streaming.incremental import sessionize_stream

    src = tmp_path / "late_ev"
    src.mkdir()
    out, ckpt = str(tmp_path / "late_out"), str(tmp_path / "late_ck")
    t0 = 1_700_000_000

    def write_file(name, rows):
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "event_id": range(len(rows)),
                "ts": [pd.Timestamp(t, unit="s", tz="UTC") for _u, t in rows],
                "user_id": [u for u, _t in rows],
                "event_type": "e",
                "value": 0.0,
                "props": "{}",
            }
        )
        spark.createDataFrame(
            pdf,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).coalesce(1).write.parquet(str(src / name))

    write_file("f1", [(7, t0), (7, t0 + 1200)])
    _time.sleep(1.1)  # distinct mtimes => deterministic file order
    write_file("f2", [(7, t0 + 300), (9, t0 + 100_000)])

    stream = sessionize_stream(spark, str(src) + "/*", gap_minutes=30)
    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    assert (7, t0, t0 + 1200, 3) in got, got


def test_decode_media_real_wav_bmp(spark):
    """WAV and BMP payloads decode for REAL (stdlib kernels): exact
    header fields plus levels computed from the actual sample/pixel
    bytes. Compressed codecs raise in strict mode."""
    import io
    import struct
    import wave

    import pytest as _pytest

    from pprl_spark.operators.multimodal import decode_media

    # 16-bit mono 8kHz WAV, 1600 frames of +/-16384 -> RMS 0.5, 200ms
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        frames = struct.pack("<" + "h" * 1600, *([16384, -16384] * 800))
        w.writeframes(frames)
    wav_bytes = buf.getvalue()

    # 4x2 24-bit uncompressed BMP, every byte 100 -> level 100/255
    w_px, h_px = 4, 2
    row = bytes([100] * (w_px * 3))  # 12 bytes, already 4-aligned
    pixels = row * h_px
    info = struct.pack("<IiiHHIIiiII", 40, w_px, h_px, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(pixels), 0, 0, 54)
    bmp_bytes = header + info + pixels

    media = spark.createDataFrame(
        [("wav://a", wav_bytes, "audio", None), ("bmp://b", bmp_bytes, "image", None)],
        "media_ref string, payload binary, media_type string, "
        "meta struct<width:int,height:int,duration_ms:int,codec:string>",
    )
    rows = {r["media_ref"]: r for r in decode_media(media).collect()}
    wav = rows["wav://a"]
    assert wav["container"] == "audio/wav"
    assert wav["channels"] == 1 and wav["sample_rate"] == 8000
    assert wav["duration_ms"] == 200
    assert abs(wav["level"] - 0.5) < 1e-9
    bmp = rows["bmp://b"]
    assert bmp["container"] == "image/bmp"
    assert (bmp["width"], bmp["height"]) == (4, 2)
    assert abs(bmp["level"] - 100 / 255) < 1e-9

    # compressed codecs: strict raises, non-strict falls back
    jpeg = spark.createDataFrame(
        [("jpg://c", b"\xff\xd8\xff\xe0fakejpeg", "image", None)],
        "media_ref string, payload binary, media_type string, "
        "meta struct<width:int,height:int,duration_ms:int,codec:string>",
    )
    with _pytest.raises(Exception):
        decode_media(jpeg, strict=True).collect()
    fallback = decode_media(jpeg, strict=False).collect()[0]
    assert fallback["container"] == "unknown"
    assert fallback["level"] is not None


def test_scm_cumulative_training_priors(spark):
    """Cumulative training (reference embedder.py:631-636): passing the
    previous freq matrices as priors makes the matched joint-frequency
    matrix EXACTLY additive — train(batch1) priors + batch2 equals
    train(batch1 ∪ batch2) on freq_matr_matched (the matched counts are
    alignment-independent; the unmatched matrix uses a fresh seeded
    derangement per call, as in the reference)."""
    import numpy as np

    cfg = EmbedderConfig(bf_size=32)
    b1 = spark.createDataFrame(
        [([1, 2], [1, 3]), ([4, 5], [4, 6]), ([7, 8], [7, 8])],
        "bf_indices_1 array<int>, bf_indices_2 array<int>",
    )
    b2 = spark.createDataFrame(
        [([9, 10], [9, 11]), ([2, 3], [2, 3])],
        "bf_indices_1 array<int>, bf_indices_2 array<int>",
    )
    t1 = train_scm(b1, cfg, seed=5)
    t12 = train_scm(
        b2, cfg, seed=5,
        prior_matched=t1["freq_matr_matched"],
        prior_unmatched=t1["freq_matr_unmatched"],
    )
    t_union = train_scm(b1.unionByName(b2), cfg, seed=5)
    assert np.array_equal(t12["freq_matr_matched"], t_union["freq_matr_matched"])
    # priors actually flowed: cumulative differs from fresh batch2-only
    t2 = train_scm(b2, cfg, seed=5)
    assert not np.array_equal(t12["freq_matr_matched"], t2["freq_matr_matched"])
    # trained matrix stays PSD under cumulative training
    eig = np.linalg.eigvalsh((t12["scm"] + t12["scm"].T) / 2)
    assert eig.min() >= -1e-4


def test_pair_join_hint_plan_shape(spark):
    """The resolved hint shows up in the physical plan: merge pins
    SortMergeJoin; a tiny auto input resolves to the guarded broadcast
    (BroadcastHashJoin). Pins that the hint is actually applied, not just
    computed."""
    from pprl_spark.operators.blocking import add_block_keys, explode_blocks
    from pprl_spark.operators.candidates import generate_candidates
    from pprl_spark.operators.embedding import embed_documents
    from pprl_spark.sources.synthetic import synthesize_documents

    cfg_merge = EmbedderConfig(pair_join_hint="merge")
    docs = synthesize_documents(spark, 120, "A")
    blocks = explode_blocks(
        add_block_keys(embed_documents(docs, cfg_merge, keep=["doc_id"]), cfg_merge)
    ).localCheckpoint()

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    merged = generate_candidates(blocks, None, cfg_merge)
    assert "SortMergeJoin" in plan(merged)
    auto = generate_candidates(blocks, None, EmbedderConfig(pair_join_hint="auto"))
    assert "BroadcastHashJoin" in plan(auto)
    # the two shapes dedupe differently (merge repartitions by the pair
    # key, broadcast relies on the doc-ordered probe side) — results
    # must be identical regardless
    def pairs(df):
        return {
            (r["id1"], r["id2"], round(r["sim"], 9)) for r in df.collect()
        }

    assert pairs(merged) == pairs(auto)


def test_salting_only_where_the_pair_join_shuffles(spark):
    """A block over max_block_size is salted in the sort-merge shape and
    not in the broadcast shape (whose probe side is not partitioned by
    key); both shapes emit the same rows, one per pair."""
    from pprl_spark.operators.blocking import add_block_keys, explode_blocks
    from pprl_spark.operators.candidates import generate_candidates
    from pprl_spark.operators.embedding import embed_documents
    from pprl_spark.sources.synthetic import synthesize_documents

    cfg = EmbedderConfig(max_block_size=20)
    docs = synthesize_documents(spark, 80, "A")
    blk = explode_blocks(
        add_block_keys(embed_documents(docs, cfg, keep=["doc_id"]), cfg)
    )
    hot = blk.dropDuplicates(["doc_id"]).withColumn("block_key", F.lit("hot"))
    blocks = blk.unionByName(hot).localCheckpoint()

    def run(hint):
        out = generate_candidates(
            blocks, None, cfg.with_args(pair_join_hint=hint), cap=False
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        rows = sorted(
            (r["id1"], r["id2"], r["block_key_hash"], r["sim"])
            for r in out.collect()
        )
        return plan, rows

    merge_plan, merge_rows = run("merge")
    bcast_plan, bcast_rows = run("broadcast")
    assert "SortMergeJoin" in merge_plan and "_salt" in merge_plan
    assert "BroadcastHashJoin" in bcast_plan and "_salt" not in bcast_plan
    assert merge_rows == bcast_rows
    assert len(merge_rows) == len({(r[0], r[1]) for r in merge_rows})
    # the hot block alone pairs every two of the 80 docs
    assert len(merge_rows) == 80 * 79 // 2


def test_decode_kernel_properties():
    """Property check (no Spark): decode_wav_meta/decode_bmp_meta recover
    the exact generation parameters for arbitrary valid payloads."""
    import io
    import struct
    import wave

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pprl_spark.operators.multimodal import decode_bmp_meta, decode_wav_meta

    @settings(max_examples=30, deadline=None)
    @given(
        amp=st.integers(min_value=1, max_value=32767),
        half_frames=st.integers(min_value=4, max_value=400),
        rate=st.sampled_from([8000, 16000, 44100]),
    )
    def wav_roundtrip(amp, half_frames, rate):
        frames = half_frames * 2
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(struct.pack("<" + "h" * frames, *([amp, -amp] * half_frames)))
        m = decode_wav_meta(buf.getvalue())
        assert m["channels"] == 1 and m["sample_rate"] == rate
        assert m["duration_ms"] == int(round(frames * 1000 / rate))
        assert abs(m["level"] - amp / 32768.0) < 1e-12

    @settings(max_examples=30, deadline=None)
    @given(
        w_px=st.integers(min_value=1, max_value=40),
        h_px=st.integers(min_value=1, max_value=20),
        fill=st.integers(min_value=0, max_value=255),
    )
    def bmp_roundtrip(w_px, h_px, fill):
        row_bytes = (w_px * 3 + 3) // 4 * 4
        row = bytes([fill] * (w_px * 3)) + b"\x00" * (row_bytes - w_px * 3)
        pixels = row * h_px
        info = struct.pack(
            "<IiiHHIIiiII", 40, w_px, h_px, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
        )
        payload = b"BM" + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54) + info + pixels
        m = decode_bmp_meta(payload)
        assert (m["width"], m["height"]) == (w_px, h_px)
        assert abs(m["level"] - fill / 255.0) < 1e-12

    wav_roundtrip()
    bmp_roundtrip()


def test_numbered_small_fast_path_matches_distributed_ranks(spark):
    """The range-partitioned _numbered assigns each row its global rank
    by the order column — the slots Python's sorted() gives — which the
    SCM training fixture depends on."""
    from pprl_spark.operators.private_index import _numbered

    df = spark.range(500).select(
        F.col("id"), F.xxhash64("id", F.lit(7)).alias("_h")
    )
    numbered, n = _numbered(df, "_h", offset=0, range_by=True)
    assert n == 500
    got = {r["id"]: r["slot"] for r in numbered.collect()}
    ranked = sorted(df.collect(), key=lambda r: r["_h"])
    assert got == {r["id"]: i for i, r in enumerate(ranked)}


def test_decode_media_real_png(spark):
    """PNG golden: encode with every filter type (None/Sub/Up/Average/
    Paeth), decode through the Spark operator, and check dims + exact
    mean level — the round trip proves the filter reconstruction is the
    true inverse of the encoder's filter algebra."""
    import numpy as np

    from pprl_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        decode_png_meta,
        encode_png,
    )

    rng = np.random.RandomState(7)
    w, h = 9, 5
    px = rng.randint(0, 256, size=h * w * 3, dtype=np.uint8).tobytes()
    payload = encode_png(w, h, px, color_type=2, filters=[0, 1, 2, 3, 4])
    m = decode_png_meta(payload)
    assert (m["width"], m["height"], m["channels"]) == (w, h, 3)
    expect = np.frombuffer(px, np.uint8).mean() / 255.0
    assert abs(m["level"] - expect) < 1e-12
    # grayscale + RGBA shapes
    g = encode_png(4, 3, bytes(range(12)), color_type=0)
    assert decode_png_meta(g)["channels"] == 1
    rgba = encode_png(2, 2, bytes(range(16)), color_type=6, filters=[4, 3])
    mm = decode_png_meta(rgba)
    assert mm["channels"] == 4
    assert abs(mm["level"] - (sum(range(16)) / 16) / 255.0) < 1e-12
    # through the Spark operator, dispatched by magic bytes
    media = spark.createDataFrame(
        [("png://1", payload, "image", None)], MEDIA_SCHEMA
    )
    row = decode_media(media).collect()[0]
    assert row["container"] == "image/png"
    assert (row["width"], row["height"], row["channels"]) == (w, h, 3)
    assert abs(row["level"] - expect) < 1e-12


def test_winnow_near_duplicates(spark):
    """Winnowing: identical docs overlap 1.0; an insertion-padded copy
    still shares most fingerprints (the structural guarantee); unrelated
    text produces no pair."""
    from pprl_spark.operators.dedup import winnow_near_duplicates

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank"),
        (3, "yesterday the quick brown fox jumps over the lazy dog near the river bank today"),
        (4, "completely unrelated text about spark engines and parquet files"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id1"], r["id2"]): r["overlap"]
        for r in winnow_near_duplicates(df, threshold=0.3).collect()
    }
    assert got[(1, 2)] == pytest.approx(1.0)
    assert got[(1, 3)] >= 0.5  # insertions at both ends keep the shared run
    assert all(4 not in pair for pair in got)


def test_winnow_guarantee_shared_run(spark):
    """Any shared word run of length >= k+w-1 yields a shared
    fingerprint (the winnowing window guarantee)."""
    from pprl_spark.functions.text import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 words >= k+w-1 = 3+4-1
    rows = [(1, f"xx yy {shared} zz"), (2, f"{shared} aa bb cc dd")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {
        r["doc_id"]: set(r["fps"])
        for r in df.select(
            "doc_id", winnow_fingerprints("text", 3, 4).alias("fps")
        ).collect()
    }
    assert fps[1] & fps[2]


def test_event_percentiles_and_topk(spark):
    from pprl_spark.operators.events import (
        event_value_percentiles,
        top_users_per_type,
    )

    rows = [
        (i, "2024-01-01 00:00:00", i % 4, "click" if i % 2 else "view", float(i), "{}")
        for i in range(100)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    pct = {r["event_type"]: r for r in event_value_percentiles(ev).collect()}
    # odd values 1..99 -> exact interpolated median = 50.0
    assert pct["click"]["n_events"] == 50
    assert pct["click"]["p50"] == pytest.approx(50.0)
    top = top_users_per_type(ev, k=2).collect()
    by_type = {}
    for r in top:
        by_type.setdefault(r["event_type"], []).append((r["rank"], r["user_id"], r["n_events"]))
    for t, rs in by_type.items():
        assert [rk for rk, _, _ in sorted(rs)] == [1, 2]
        # counts tie at 25 per user here, so rank ties break by user_id asc
        assert sorted(rs)[0][1] < sorted(rs)[1][1]


def test_semantic_duplicates_golden(spark):
    from pprl_spark.operators.dedup import semantic_duplicates

    # 2 centroids (lowest ids 1, 2); ids 3,4 colinear with centroid 1
    # (dup group keeps lowest id 1); id 5 duplicates centroid 2; id 6
    # lands in cluster 2 but is orthogonal to everything there
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [1.0, 0.01]),
        (4, [2.0, 0.02]),
        (5, [0.0, 2.0]),
        (6, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: r
        for r in semantic_duplicates(df, threshold=0.99, n_centroids=2).collect()
    }
    assert not got[1].is_dup and not got[2].is_dup
    assert got[3].is_dup and got[3].dup_of == 1
    assert got[4].is_dup and got[4].dup_of == 1
    assert got[5].is_dup and got[5].dup_of == 2
    assert not got[6].is_dup and got[6].cent_id == 2
    # survivors are exactly the is_dup=false rows (keep-first)
    assert {v for v, r in got.items() if not r.is_dup} == {1, 2, 6}


def test_semantic_duplicates_cluster_bounded(spark):
    from pprl_spark.operators.dedup import semantic_duplicates

    # near-identical vectors split across DIFFERENT clusters are NOT
    # paired — the documented SemDeDup recall sacrifice. Centroids sit
    # at 0° and 45°, so the Voronoi boundary is 22.5°; ids 3 and 4
    # straddle it at 23° and 22° (cos(1°) = 0.99985 apart).
    import math

    def ang(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

    rows = [(1, ang(0.0)), (2, ang(45.0)), (3, ang(23.0)), (4, ang(22.0))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: r
        for r in semantic_duplicates(df, threshold=0.999, n_centroids=2).collect()
    }
    assert got[3].cent_id == 2 and got[4].cent_id == 1
    # the 0.99985-cosine pair (3,4) is invisible across the boundary,
    # and neither is within 0.999 of its own centroid's other members
    assert not got[3].is_dup and not got[4].is_dup


def test_snm_window_pairs_matches_bruteforce(spark):
    import random

    from pprl_spark.operators.blocking import snm_window_pairs

    rng = random.Random(7)
    rows = [(i, "".join(rng.choice("abc") for _ in range(3))) for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, k string")
    for w in (2, 4):
        got = sorted(
            (r.id1, r.id2) for r in snm_window_pairs(df, "k", w=w).collect()
        )
        order = sorted(rows, key=lambda t: f"{t[1]}|{t[0]:020d}")
        exp = set()
        for i in range(len(order)):
            for j in range(i + 1, min(i + w, len(order))):
                a, b = order[i][0], order[j][0]
                exp.add((min(a, b), max(a, b)))
        assert set(got) == exp and len(got) == len(exp)  # exact, no dups


def test_snm_window_pairs_partitioning_independent(spark):
    import random

    from pprl_spark.operators.blocking import snm_window_pairs

    rng = random.Random(13)
    rows = [(i, "".join(rng.choice("xyz") for _ in range(2))) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, k string")
    one = sorted(tuple(r) for r in snm_window_pairs(df.repartition(1), "k", w=3).collect())
    many = sorted(tuple(r) for r in snm_window_pairs(df.repartition(9), "k", w=3).collect())
    assert one == many


def test_snm_window_pairs_validation(spark):
    from pprl_spark.operators.blocking import snm_window_pairs

    df = spark.createDataFrame([(1, "a")], "doc_id long, k string")
    with pytest.raises(ValueError):
        snm_window_pairs(df, "k", w=1)


def test_k_anonymity_report_golden(spark):
    from pprl_spark.operators.blocking import k_anonymity_report

    # blocks: A{1,2,3,4,5} (size 5), B{1,2} (size 2), C{9} (size 1)
    rows = [(i, "A") for i in range(1, 6)] + [(1, "B"), (2, "B"), (9, "C")]
    df = spark.createDataFrame(rows, "doc_id long, block_key string")
    got = {r.k: r for r in k_anonymity_report(df, ks=(2, 5, 10)).collect()}
    assert set(got) == {2, 5, 10}
    # k=2: only C(1) is below -> doc 9 exposed
    assert (got[2].n_blocks_below, got[2].n_entries_below, got[2].n_docs_exposed) == (1, 1, 1)
    # k=5: B(2) and C(1) below -> docs 1,2 (min block 2) and 9 exposed
    assert (got[5].n_blocks_below, got[5].n_entries_below, got[5].n_docs_exposed) == (2, 3, 3)
    # k=10: every block below -> all 6 docs exposed
    assert (got[10].n_blocks_below, got[10].n_docs_exposed) == (3, 6)
    assert got[10].n_blocks_total == 3 and got[10].n_docs_total == 6
    assert got[5].exposed_frac == 3.0 / 6.0
    import pytest

    with pytest.raises(ValueError):
        k_anonymity_report(df, ks=(1,))


def test_train_scm_driver_fast_path_matches_distributed(spark):
    """The counted driver scatter-add (r6) must produce the exact trained
    matrices of the distributed explode x explode aggregation, including
    the seeded derangement for the unmatched class."""
    import numpy as np

    from pprl_spark.config import EmbedderConfig
    from pprl_spark.operators.scm import train_scm

    rng = __import__("random").Random(9)
    rows = []
    for i in range(60):
        a = sorted(rng.sample(range(64), 6))
        b = sorted(rng.sample(range(64), 6))
        rows.append((a, b))
    # duplicate arrays force hash ties in the derangement ordering
    rows.append(rows[0])
    rows.append(rows[1])
    df = spark.createDataFrame(
        rows, "bf_indices_1 array<int>, bf_indices_2 array<int>"
    )
    cfg = EmbedderConfig(bf_size=64, num_hashes=2)
    fast = train_scm(df, cfg, seed=7)  # 62 rows -> driver path
    slow = train_scm(df, cfg, seed=7, driver_rows=0)  # force distributed
    for key in ("scm", "freq_matr_matched", "freq_matr_unmatched"):
        np.testing.assert_array_equal(
            np.asarray(fast[key]), np.asarray(slow[key]), err_msg=key
        )
