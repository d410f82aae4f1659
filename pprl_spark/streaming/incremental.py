"""Incremental embedding via Structured Streaming.

The reference is batch-only (SURVEY.md §2.9: no streaming operators), and
the north rule's resumability is satisfied by checkpointed stage tables.
This module adds the natural streaming extension anyway: as new documents
land (parquet drops locally; Kafka/Iceberg streams on a cluster), embed
and block them incrementally so the candidate space stays current without
re-embedding the corpus. The transformation graph is *identical* to the
batch embed stage — Structured Streaming reuses the same DataFrame plan.

Matching itself stays batch (a stream-stream self-join over all history
is the dense-matrix problem again); the supported pattern is
stream-embed -> append to the embedded stage table -> periodic batch
match over the delta: :func:`delta_candidates` scores only the pairs
that involve a new document (new-vs-corpus plus new-vs-new, via the
same blocked join), and :func:`delta_match` folds them into the stored
pair table and re-ranks — exactly equal to re-matching the full union,
at the cost of only the delta's joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pprl_spark.config import EmbedderConfig
from pprl_spark.functions.text import text_key
from pprl_spark.operators.blocking import add_block_keys
from pprl_spark.operators.candidates import generate_candidates
from pprl_spark.operators.embedding import embed_documents
from pprl_spark.operators.matching import mutual_best_match
from pprl_spark.sources.synthetic import DOCS_SCHEMA

# parquet layouts the event and text streams read
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)
TEXT_SCHEMA = "doc_id long, ts timestamp, text string"
# event-time lateness bound of the watermarked text and event streams
WATERMARK = "2 hours"


def delta_candidates(
    corpus_blocks: DataFrame,
    delta_blocks: DataFrame,
    config: EmbedderConfig,
    cap: bool = True,
    min_sim: float | None = None,
    allow_uncapped: bool = False,
) -> DataFrame:
    """Scored candidate pairs involving at least one NEW document.

    The incremental identity this implements: self-candidates over
    ``corpus ∪ delta`` decompose exactly into (a) self-candidates over
    the corpus — already computed and stored by the previous run — plus
    (b) this function: delta-vs-corpus cross pairs and delta-vs-delta
    self pairs, both through the same blocked pair join
    (``operators.candidates.generate_candidates``). Only the delta side
    is small; the corpus side joins by block key, so cost scales with
    the delta's block fan-out, not the corpus size.

    Output pairs are normalized to ``id1 < id2`` (the self-linkage
    orientation), so the union with the stored pair table is directly
    re-rankable. Document ids must be disjoint between corpus and delta
    (append-only ingest). Nothing checks this: with an id in both
    frames, one pair can come out of the cross join, the delta self-join
    and the stored corpus pairs alike, so it gets several rows. Duplicate
    rows corrupt mutual-best ranking: each copy can take rank 1 in a
    different window, so a true match is lost.

    ``cap=True`` thins celebrity blocks per input frame; because block
    sizes differ between (corpus, delta) and their union, capping makes
    the decomposition approximate at the thinned blocks only — pass
    ``cap=False`` when exact union-equivalence matters more than skew
    protection, and ``allow_uncapped=True`` with it to acknowledge the
    unguarded shape (otherwise the no-skew-protection warning fires on
    every run, training callers to ignore it).
    """
    cross = generate_candidates(
        delta_blocks, corpus_blocks, config, cap=cap,
        min_sim=min_sim, allow_uncapped=allow_uncapped,
    )
    within = generate_candidates(
        delta_blocks, None, config, cap=cap,
        min_sim=min_sim, allow_uncapped=allow_uncapped,
    )
    cross_norm = cross.select(
        F.least("id1", "id2").alias("id1"),
        F.greatest("id1", "id2").alias("id2"),
        "block_key_hash",
        "sim",
    )
    # No dedupe across the union: each frame is already pair-deduped by
    # generate_candidates, and the two frames cannot share a pair —
    # cross pairs have exactly one delta endpoint, within pairs two, and
    # corpus/delta ids are disjoint by the append-only contract above.
    # (A groupBy here was a full no-op exchange + two aggregate passes
    # over the entire pair table; removed, equivalence pinned by
    # tests/test_streaming_delta.py's union/batch-match equalities.)
    return cross_norm.unionByName(within.select("id1", "id2", "block_key_hash", "sim"))


def delta_match(prior_pairs: DataFrame, new_pairs: DataFrame) -> DataFrame:
    """Re-rank the stored pair table plus the delta's pairs.

    ``prior_pairs``: the scored self-candidate table of the corpus (a
    pipeline stage table); ``new_pairs``: :func:`delta_candidates`
    output. Because candidate scoring is per-pair independent, the union
    IS the self-candidate table of ``corpus ∪ delta`` — so running
    ``mutual_best_match`` over it returns exactly what a from-scratch
    batch match over the union would (the equivalence test in
    tests/test_streaming_delta.py pins this). Mutual-best ranking is the
    one step that cannot be incremental: a new document can steal an old
    document's best partner, so old matches may legitimately change.

    The equivalence needs one row per pair, which holds only while
    corpus and delta ids are disjoint (see :func:`delta_candidates`).
    Overlapping ids emit duplicate pair rows, and those corrupt the
    ranking here: a pair's copies can win rank 1 in different windows
    and a true match is dropped.
    """
    cols = ["id1", "id2", "block_key_hash", "sim"]
    all_pairs = prior_pairs.select(*cols).unionByName(new_pairs.select(*cols))
    return mutual_best_match(all_pairs, self_linkage=True)


def stream_embed(spark: SparkSession, input_dir: str, config: EmbedderConfig) -> DataFrame:
    """readStream(parquet docs) -> embed -> block keys (same plan as batch)."""
    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(input_dir)
    emb = embed_documents(stream, config, keep=["doc_id", "true_id"])
    return add_block_keys(emb, config)


def stream_windowed_stats(spark: SparkSession, input_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling-window rollup over an event stream.

    Same aggregation plan as ``operators.events.windowed_event_stats``
    (minus exact distinct users, unsupported on unbounded streams); the
    event-time watermark bounds state: windows older than max(ts) -
    watermark are finalized and evicted, and later-arriving rows for them
    are dropped — the standard late-data contract.
    """
    from pprl_spark.operators.events import windowed_event_stats

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(input_dir)
        .withWatermark("ts", WATERMARK)
    )
    return windowed_event_stats(stream, exact_users=False)


def start_parquet_append(
    stream: DataFrame, output_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Append a stream to a parquet stage table at ``output_dir`` with
    exactly-once checkpointing in ``checkpoint_dir`` (the streaming
    analog of the pipeline's stage commit). The query processes the
    input available now and stops (``availableNow`` trigger).

    For a watermarked aggregation (:func:`stream_windowed_stats`),
    ``append`` output mode emits a window only once its watermark passes
    — the batch-equivalence test in tests/test_extensions.py proves the
    emitted rows match the batch aggregation over the same input.
    """
    return (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def sessionize_stream(spark: SparkSession, input_dir: str, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization via
    ``applyInPandasWithState``.

    Per-user state carries the open session (start, last ts, count); each
    micro-batch folds its events in event-time order, emitting every
    session CLOSED by a gap. The open session stays in state with an
    event-time timeout at last_ts + gap, so it flushes once the watermark
    passes — bounded state at any scale, keyed shuffle only on user_id.
    Batch twin: ``operators.events.sessionize_batch`` (equivalence test in
    tests/test_extensions.py).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_s = gap_minutes * 60
    out_cols = ["user_id", "session_start", "session_end", "n_events"]

    def fn(key, pdfs, state):
        user = key[0]
        sessions = []
        if state.hasTimedOut:
            ss, lt, n = state.get
            sessions.append((user, ss, lt, n))
            state.remove()
        else:
            rows = pd.concat(list(pdfs))
            ts = sorted(rows["ts"].astype("int64") // 10**9)
            ss, lt, n = state.get if state.exists else (None, None, 0)
            for t in ts:
                if ss is None:
                    ss, lt, n = t, t, 1
                elif t - lt > gap_s:
                    sessions.append((user, ss, lt, n))
                    ss, lt, n = t, t, 1
                else:
                    # min/max, not assignment: a late-but-within-watermark
                    # event arriving in a later micro-batch can carry
                    # t < lt (or even t < ss) — moving session_end
                    # backwards would also move the event-time timeout
                    # backwards and diverge from the batch twin's
                    # min(ts)/max(ts) session bounds
                    ss, lt, n = min(ss, t), max(lt, t), n + 1
            state.update((int(ss), int(lt), int(n)))
            state.setTimeoutTimestamp((int(lt) + gap_s) * 1000)
        yield pd.DataFrame(sessions, columns=out_cols)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(input_dir)
        .withWatermark("ts", f"{gap_minutes} minutes")
    )
    return stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, session_start long, session_end long, n_events long",
        stateStructType="session_start long, last_ts long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_exact_dedup(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST occurrence of each
    normalized-text fingerprint across micro-batches.

    The streaming twin of ``operators.dedup.exact_duplicates``' keying:
    the same 128-bit ``functions.text.text_key`` fingerprint feeds
    ``dropDuplicatesWithinWatermark``, so re-crawled/re-ingested copies
    of a document arriving within the watermark are dropped exactly
    once per key while state stays BOUNDED: a fingerprint's state row is
    evicted once the watermark passes its last-seen event time, which is
    the correct contract for crawl dedup (re-crawls cluster in time).
    Plain ``dropDuplicates`` would keep every fingerprint forever —
    unbounded state at corpus scale.

    Batch-equivalence (pinned in tests/test_streaming_delta.py): within
    one watermark window the surviving doc set equals batch
    first-occurrence dedup over the same input.
    """
    stream = (
        spark.readStream.schema(TEXT_SCHEMA)
        .parquet(input_dir)
        .select("*", *text_key("text"))
        .withWatermark("ts", WATERMARK)
    )
    return stream.dropDuplicatesWithinWatermark(["fp1", "fp2"])


def stream_decontaminate(
    spark: SparkSession, input_dir: str, bench: DataFrame, n: int = 3
) -> DataFrame:
    """Streaming twin of ``operators.corpus.decontaminate``: arriving
    documents are checked against a STATIC benchmark gram table (eval
    suites change rarely; the stream does not). The benchmark grams
    broadcast once; each batch is a scan + broadcast join, and the
    per-doc shared-gram count is a streaming aggregation whose state
    holds only CONTAMINATED doc_ids — rare by construction — grouped
    under the 1-hour event-time window so the ``WATERMARK`` evicts
    finished rows (a doc's grams all arrive in its one input row, so its
    count is complete in the batch that carries it). Emit with
    update/append mode; returns (doc_id, n_shared), same contract as the
    batch operator.
    """
    from pprl_spark.functions.text import rolling_hash_col, word_shingles
    from pprl_spark.operators.corpus import benchmark_grams

    grams = F.broadcast(benchmark_grams(bench, n=n))
    stream = (
        spark.readStream.schema(TEXT_SCHEMA)
        .parquet(input_dir)
        .withWatermark("ts", WATERMARK)
    )
    doc_grams = stream.select(
        "doc_id",
        "ts",
        F.explode(
            F.array_distinct(
                F.transform(word_shingles("text", n), lambda s: rolling_hash_col(s))
            )
        ).alias("gram"),
    )
    hits = doc_grams.join(grams, "gram")
    agg = hits.groupBy(F.window("ts", "1 hour"), "doc_id").agg(F.count("*").alias("n_shared"))
    return agg.select("doc_id", "n_shared")


def asof_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming as-of join over ONE interleaved event stream: each
    ``view`` event is annotated with the newest ``error`` event of the
    same user at-or-before it among those ALREADY ARRIVED.

    Per-user state is exactly one row — the max-(ts, event_id) right
    payload seen so far — so state is bounded by |users| regardless of
    stream length and needs no timeout/eviction. Within a micro-batch,
    rows fold in event-time order (ts, event_id), so intra-batch
    interleavings are exact; ACROSS micro-batches the answer is
    best-seen-so-far: a right event arriving after a left event it
    precedes in event time is not retroactively applied (append mode
    cannot retract). Under event-time-ordered replay the output equals
    the batch twin ``operators.events.asof_join`` exactly — the same
    arrival-order contract as ``stream_exact_dedup`` — and out-of-order
    arrivals degrade to the information available at processing time,
    matching what a live low-latency enrichment can ever know.

    Output: (event_id, user_id, ts_us, asof_event_id, asof_ts_us,
    asof_value) with -1 sentinels for no-match (typed, orderable).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_cols = [
        "event_id",
        "user_id",
        "ts_us",
        "asof_event_id",
        "asof_ts_us",
        "asof_value",
    ]

    def fn(key, pdfs, state):
        user = int(key[0])
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        best = tuple(state.get) if state.exists else None  # (ts_us, id, value)
        out = []
        for r in rows.itertuples(index=False):
            ts_us = int(pd.Timestamp(r.ts).value // 1000)
            if r.event_type == "error":
                if best is None or (ts_us, int(r.event_id)) >= (best[0], best[1]):
                    best = (ts_us, int(r.event_id), float(r.value))
            elif r.event_type == "view":
                if best is not None and best[0] <= ts_us:
                    out.append((int(r.event_id), user, ts_us, best[1], best[0], best[2]))
                else:
                    out.append((int(r.event_id), user, ts_us, -1, -1, -1.0))
        if best is not None:
            state.update(best)
        yield pd.DataFrame(out, columns=out_cols)

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    return (
        stream.where(F.col("event_type").isin("view", "error"))
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "event_id long, user_id long, ts_us long, "
                "asof_event_id long, asof_ts_us long, asof_value double"
            ),
            stateStructType="ts_us long, event_id long, value double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_near_duplicates(
    spark: SparkSession,
    input_dir: str,
    corpus_index: tuple[DataFrame, DataFrame],
    k: int = 3,
    threshold: float = 0.7,
    bands: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Streaming twin of ``operators.dedup.delta_near_duplicates``,
    DELTA-vs-CORPUS only: arriving documents probe a STATIC standing
    MinHash index (from ``dedup.minhash_index``) as they land.

    Everything on the hot path is stateless: the arriving doc's
    shingles, signature and band keys are per-row expressions; the
    band probe and the corpus-shingle fetch are stream-static
    broadcast-able equi-joins. The ONLY state is the per-pair dedupe
    across band multiplicity, and it is bounded two ways: the
    ``threshold`` filter runs BEFORE the grouping (state holds only
    near-duplicate pairs — rare by construction, same trick as
    ``stream_decontaminate``'s contaminated-only state), and the
    event-time window under ``WATERMARK`` evicts finished rows (a
    doc's band keys all travel in its one input row, so its pairs
    complete within the batch that carries it).

    Delta-vs-delta pairs are deliberately out of scope here (a
    stream-stream self-join over all history is the dense-matrix
    problem again); run the batch ``delta_near_duplicates`` on the
    accumulated batch for those, exactly like the linkage delta path.
    Returns ``(doc_id, corpus_id, jaccard)``.
    """
    from pprl_spark.functions.text import shingle_hashes
    from pprl_spark.operators.blocking import band_keys, minhash_col
    from pprl_spark.operators.dedup import _jaccard

    corpus_base, corpus_band = corpus_index
    stream = (
        spark.readStream.schema(TEXT_SCHEMA)
        .parquet(input_dir)
        .withWatermark("ts", WATERMARK)
    )
    # null-text pre-filter instead of size(sh) > 0: pushdown would
    # re-evaluate the shingle fold for the filter (dedup.minhash_index);
    # shingle arrays are never empty for non-null text
    d = (
        stream.where(F.col("text").isNotNull())
        .select("doc_id", "ts", shingle_hashes("text", k).alias("sh"))
        .withColumn("_sig", minhash_col(F.col("sh"), bands * rows_per_band))
    )
    dband = d.select(
        "doc_id",
        "ts",
        "sh",
        F.explode(band_keys(F.col("_sig"), bands, rows_per_band, "b{}:")).alias("bk"),
    )
    cand = dband.join(
        corpus_band.select(F.col("doc_id").alias("corpus_id"), "bk"), "bk"
    ).where(F.col("doc_id") != F.col("corpus_id"))
    scored = cand.join(
        corpus_base.select(F.col("doc_id").alias("corpus_id"), F.col("sh").alias("sh2")),
        "corpus_id",
    ).withColumn("jaccard", _jaccard(F.col("sh"), F.col("sh2")))
    near = scored.where(F.col("jaccard") >= threshold)
    out = near.groupBy(F.window("ts", "1 hour"), "doc_id", "corpus_id").agg(
        F.max("jaccard").alias("jaccard")
    )
    return out.select("doc_id", "corpus_id", "jaccard")


def anomaly_stream(
    spark: SparkSession,
    input_dir: str,
    trailing: int = 6,
    min_windows: int = 3,
) -> DataFrame:
    """Streaming trailing-window anomaly scorer over a per-window count
    stream -> (event_type, window_start, n_events, n_prev, mean_u, z_u).

    Consumes the (type, window_start, n_events) rows a windowed rollup
    emits and z-scores each window against the trailing ``trailing``
    windows of its type — the live form of
    ``operators.events.windowed_anomaly``. State per event type is the
    bounded ring of the last ``trailing`` counts (fixed slots — no
    growth with stream length); windows fold in window_start order
    within a micro-batch, and under window-ordered replay the output
    equals the batch twin EXACTLY (the same arrival-order contract as
    ``asof_stream``/``stream_exact_dedup``) — the float chain mirrors
    the batch expression tree operation for operation (including
    rounding the s1*s1 product before the divide), so the micro-unit
    scores match to the bit.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if trailing < 1:
        raise ValueError(f"trailing must be >= 1, got {trailing}")
    if min_windows < 1 or min_windows > trailing:
        raise ValueError(f"min_windows must be in [1, trailing], got {min_windows}")

    out_cols = ["event_type", "window_start", "n_events", "n_prev", "mean_u", "z_u"]
    state_schema = ", ".join(f"c{i} long" for i in range(trailing)) + ", nf long"

    def fn(key, pdfs, state):
        etype = str(key[0])
        rows = pd.concat(list(pdfs)).sort_values("window_start")
        if state.exists:
            vals = list(state.get)
            nf = int(vals[-1])
            hist = [int(v) for v in vals[:nf]]
        else:
            hist = []
        out = []
        for r in rows.itertuples(index=False):
            n, ws = int(r.n_events), int(r.window_start)
            n_prev = len(hist)
            if n_prev >= min_windows:
                s1 = sum(hist)
                s2 = sum(c * c for c in hist)
                npd = float(n_prev)
                mean = s1 / npd
                # float(s1)*float(s1) BEFORE the divide: the batch tree
                # rounds the product, so the twin must too
                var = (s2 - float(s1) * float(s1) / npd) / npd
                mean_u = math.floor(1000000.0 * mean)
                z_u = (
                    math.floor(1000000.0 * ((n - mean) / math.sqrt(var)))
                    if var > 0
                    else 0
                )
                out.append((etype, ws, n, n_prev, mean_u, z_u))
            hist.append(n)
            if len(hist) > trailing:
                hist = hist[-trailing:]
        state.update(tuple(hist + [0] * (trailing - len(hist))) + (len(hist),))
        yield pd.DataFrame(out, columns=out_cols)

    stream = spark.readStream.schema(
        "event_type string, window_start long, n_events long"
    ).parquet(input_dir)
    return stream.groupBy("event_type").applyInPandasWithState(
        fn,
        outputStructType=(
            "event_type string, window_start long, n_events long, "
            "n_prev long, mean_u long, z_u long"
        ),
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
