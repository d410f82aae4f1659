"""Deduplication operators for document corpora.

First-class training-data-pipeline components alongside the PPRL stages
(the brief grades these with SURVEY.md §2): exact, MinHash-LSH, SimHash,
winnowing and embedding-cosine near-dup. n-gram Jaccard is not a
separate variant: it is the exact verify of the MinHash path
(:func:`minhash_near_duplicates`). All reuse the engine's blocking
machinery — candidate pairs only ever exist within a block key, so every
variant scales the same way the linkage pipeline does. The LSH variants
share one shape: :func:`_key_pairs` (distinct pairs sharing a key, only
``(doc_id, key)`` rows in the exchange) then :func:`_verified` (payload
joined back onto the pairs, exact score >= threshold).

Everything below is built-in Spark (codegen'd); no Python UDFs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pprl_spark.functions.text import shingle_hashes, text_key
from pprl_spark.operators.blocking import band_keys, minhash_col


def exact_duplicates(df: DataFrame) -> DataFrame:
    """Exact dedup by a 128-bit normalized-text fingerprint.

    Returns (doc_id, canonical_id, n_copies) for documents whose
    normalized text appears more than once; canonical = min id. The
    groupBy is a hash aggregation with map-side partial combine, and the
    shuffle key is :func:`~pprl_spark.functions.text.text_key` — 16
    bytes per doc, so the document text itself NEVER moves through a
    shuffle.
    """
    keyed = df.select("doc_id", *text_key("text"))
    groups = keyed.groupBy("fp1", "fp2").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies")
    )
    return (
        keyed.join(groups.where(F.col("n_copies") > 1), ["fp1", "fp2"])
        .select("doc_id", "canonical_id", "n_copies")
    )


def _key_pairs(left: DataFrame, right: DataFrame, key: str) -> DataFrame:
    """Distinct ``(id1, id2)`` with ``id1 < id2``: a ``doc_id`` of ``left``
    and one of ``right`` sharing ``key``.

    Only ``(doc_id, key)`` rows go through the join exchange — a
    document's payload (shingle array, vector) would otherwise be copied
    once per key it emits, the dominant shuffle at corpus scale.
    Payloads join back onto the distinct pairs in :func:`_verified`.
    """
    return (
        left.select(F.col("doc_id").alias("id1"), key)
        .join(right.select(F.col("doc_id").alias("id2"), key), key)
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates(["id1", "id2"])
    )


def _verified(
    cand: DataFrame,
    base: DataFrame,
    col: str,
    score: Callable[[Column, Column], Column],
    name: str,
    threshold: float,
) -> DataFrame:
    """Join ``base.col`` (keyed by ``doc_id``) onto both ends of each
    ``(id1, id2)`` pair and keep pairs scoring ``>= threshold`` ->
    ``(id1, id2, name)``. ``score`` maps the two payload columns to the
    exact similarity."""
    c1 = base.select(F.col("doc_id").alias("id1"), F.col(col).alias("_c1"))
    c2 = base.select(F.col("doc_id").alias("id2"), F.col(col).alias("_c2"))
    return (
        cand.join(c1, "id1")
        .join(c2, "id2")
        .withColumn(name, score(F.col("_c1"), F.col("_c2")))
        .where(F.col(name) >= threshold)
        .select("id1", "id2", name)
    )


def _jaccard(sh1: Column, sh2: Column) -> Column:
    inter = F.size(F.array_intersect(sh1, sh2)).cast("double")
    return inter / (F.size(sh1) + F.size(sh2) - inter)


def minhash_near_duplicates(
    df: DataFrame,
    k: int = 3,
    threshold: float = 0.7,
    bands: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified: (id1,id2,jaccard).

    :func:`minhash_index` (k-word shingles -> signature -> band keys),
    a self-join on the band key (:func:`_key_pairs`), then exact
    shingle-set (n-gram) Jaccard >= ``threshold`` (:func:`_verified`).
    """
    base, band = minhash_index(df, k, bands, rows_per_band)
    return _verified(_key_pairs(band, band, "bk"), base, "sh", _jaccard, "jaccard", threshold)


def simhash_col(text_col: str, bits: int = 32, k: int = 2) -> Column:
    """SimHash signature over k-word shingle hashes, JVM-side, single-pass.

    bit_j(doc) = sign of sum over shingles of (±1 by shingle-hash bit j).
    One ``F.aggregate`` traversal of the shingle array carries an
    ``array<bigint>`` of per-bit vote counters (``zip_with`` accumulator);
    a final fold packs sign bits into a long. The previous shape — one
    full-array ``aggregate`` per bit — traversed the array ``bits`` times
    per row and produced a 32x larger codegen expression (measured 17s ->
    ~2s for the sf0.1 corpus).
    """
    sh = shingle_hashes(text_col, k)
    weights = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])

    counters = F.aggregate(
        sh,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, x: F.zip_with(
            acc,
            weights,
            lambda a, w: a
            + F.when(x.bitwiseAND(w) != 0, F.lit(1).cast("long")).otherwise(
                F.lit(-1).cast("long")
            ),
        ),
    )
    packed = F.zip_with(
        counters,
        weights,
        lambda c, w: F.when(c > 0, w).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(packed, F.lit(0).cast("long"), lambda a, x: a + x)


def embedding_near_duplicates(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane-LSH buckets.

    Vectors sharing a sign-bucket (plus hamming-1 probes) are candidate
    near-dups; exact cosine verifies. Same bucket machinery as
    ``operators.ann.lsh_topk`` — at 10^12 vectors the bucket join replaces
    the quadratic scan. All JVM-side. ``n_planes=None`` derives the plane
    count from the corpus size (``ann.auto_n_planes``) — a fixed 8 planes
    (256 buckets) stops discriminating once the corpus outgrows ~16k
    vectors.
    """
    from pprl_spark.operators.ann import auto_n_planes, cosine, lsh_bucket_key

    if n_planes is None:
        n_planes = auto_n_planes(vectors.count())
    # The bucket join exchanges ONLY (id, bucket) (:func:`_key_pairs`):
    # a vector would otherwise ride the (n_planes+1)-way probe explosion.
    # The base table is checkpointed so the bucket keys compute once,
    # not once per join arm.
    base = vectors.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("v"),
        lsh_bucket_key(F.col("embedding"), dim, n_planes).alias("b0"),
    ).localCheckpoint()
    probes = base.select(
        "doc_id",
        F.explode(
            F.array(F.col("b0"), *[F.col("b0").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)])
        ).alias("bucket"),
    )
    anchored = base.select("doc_id", F.col("b0").alias("bucket"))
    return _verified(_key_pairs(anchored, probes, "bucket"), base, "v", cosine, "cos", threshold)


# simhash_near_duplicates signature width and band width: 4 bands.
SIMHASH_BITS = 32
SIMHASH_BAND_BITS = 8


def simhash_near_duplicates(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup: band the signature, join, Hamming-filter.

    Signatures within ``max_hamming`` differ in at most that many bits, so
    with SIMHASH_BITS/SIMHASH_BAND_BITS bands > max_hamming at least one
    band matches exactly (pigeonhole) — the banded self-join finds all
    such pairs without a quadratic scan.
    """
    base = df.select("doc_id", simhash_col("text", SIMHASH_BITS).alias("sig"))
    mask = (1 << SIMHASH_BAND_BITS) - 1
    keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(str(b)),
                F.shiftright("sig", b * SIMHASH_BAND_BITS).bitwiseAND(F.lit(mask)).cast("string"),
            )
            for b in range(SIMHASH_BITS // SIMHASH_BAND_BITS)
        ]
    )
    exploded = base.withColumn("bk", F.explode(keys))
    left = exploded.select(F.col("doc_id").alias("id1"), F.col("sig").alias("sig1"), "bk")
    right = exploded.select(F.col("doc_id").alias("id2"), F.col("sig").alias("sig2"), "bk")
    hamming = F.bit_count(F.col("sig1").bitwiseXOR(F.col("sig2")))
    return (
        left.join(right, "bk")
        .where(F.col("id1") < F.col("id2"))
        .dropDuplicates(["id1", "id2"])
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


def winnow_near_duplicates(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    threshold: float = 0.5,
    max_df: int | None = 100,
) -> DataFrame:
    """Winnowing-fingerprint near-dup pairs: (id1, id2, overlap).

    Candidates = documents sharing at least one selected fingerprint
    (exploded equi-join carrying only (id, fp) — the same slim shuffle
    shape as the MinHash band join); verification = Jaccard over the
    per-document fingerprint sets. Winnowing guarantees any shared word
    run of >= k+w-1 words produces a shared fingerprint, so candidate
    recall for contiguous plagiarism/copy spans is structural, not
    probabilistic (MinHash's banding is the probabilistic counterpart).

    ``max_df`` drops STOP-FINGERPRINTS — those appearing in more than
    ``max_df`` documents — before both candidate generation and the
    overlap sets (standard MOSS practice, the dedup analog of
    cap_blocks). Boilerplate shared by thousands of documents otherwise
    makes the fingerprint join quadratic: on a templated 5k-doc corpus
    the hub fingerprints alone contributed Σdf² ≈ 20.7M join rows.
    ``None`` disables the cap.
    """
    from pprl_spark.functions.text import ordered_shingle_hashes, winnow_select

    # localCheckpoint the ordered hash array before the window
    # selection. A select boundary alone is NOT enough: Catalyst's
    # CollapseProject re-inlines the `_h` alias through chained
    # projections (references inside higher-order-function lambdas are
    # not protected), and the inlined interpreted HOF hash transform
    # then re-evaluates once per WINDOW position — O(n²·len) per doc,
    # measured as a >500s hang at sf0.1 vs ~6s checkpointed. Same
    # lesson as the r3 bloom-bitmap stall (BENCH/BASELINE.md).
    hashed = df.select(
        "doc_id", ordered_shingle_hashes("text", k).alias("_h")
    ).localCheckpoint()
    raw = hashed.select("doc_id", winnow_select(F.col("_h"), w).alias("fps"))
    # checkpoint the exploded (doc, fp) table: it feeds BOTH the
    # document-frequency aggregation (drop set) and the anti-join below,
    # and without a boundary Catalyst re-runs the winnowing selection
    # (an interpreted higher-order transform) once per consumer
    ex = raw.select("doc_id", F.explode("fps").alias("fp")).localCheckpoint()
    if max_df is not None:
        # anti-join against the DROP set: hub fingerprints number at most
        # total_occurrences/max_df (each needs >max_df carriers), so the
        # broadcast is small by construction — the keep set is nearly
        # the whole vocabulary and must never be the broadcast side
        drop = (
            ex.groupBy("fp")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_df)
            .select("fp")
        )
        ex = ex.join(F.broadcast(drop), "fp", "left_anti")
    # re-aggregate the (possibly filtered) per-doc fingerprint sets so
    # the overlap denominator matches the candidate universe exactly
    base = ex.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("fp")).alias("fps")
    ).localCheckpoint()
    exf = base.select("doc_id", F.explode("fps").alias("fp"))
    return _verified(_key_pairs(exf, exf, "fp"), base, "fps", _jaccard, "overlap", threshold)


def canonical_documents(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """Pick ONE representative document per duplicate cluster.

    The end-cap of a dedup pipeline: after near-dup pairs are clustered
    (``clusters_from_matches`` / ``connected_components`` -> (doc_id,
    entity_id)), training wants exactly one surviving document per
    entity — the highest-quality member, ties broken by min doc_id
    (deterministic). Documents in no cluster are singletons and survive
    as their own canonical.

    Returns (entity_id, canonical_id, quality, n_members). Shuffle
    shape: one left join on doc_id (clusters is tiny relative to docs —
    broadcast when it fits) plus one window partitioned by entity_id;
    quality is computed in the same scan (the codegen'd expression
    ``functions.text.quality_score``), so the corpus is read
    once and only (id, entity, quality) rides the window exchange.
    """
    from pyspark.sql import Window

    from pprl_spark.functions.text import quality_score

    members = (
        docs.select("doc_id", quality_score("text").alias("_q"))
        .join(
            clusters.select("doc_id", "entity_id"), "doc_id", "left"
        )
        .withColumn("entity_id", F.coalesce("entity_id", F.col("doc_id")))
    )
    w = Window.partitionBy("entity_id").orderBy(F.desc("_q"), F.asc("doc_id"))
    wc = Window.partitionBy("entity_id")
    return (
        members.withColumn("_r", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc))
        .where(F.col("_r") == 1)
        .select(
            "entity_id",
            F.col("doc_id").alias("canonical_id"),
            F.col("_q").alias("quality"),
            "n_members",
        )
    )


SPAN_FIELD_SEP = "\x1f"  # US — never appears in field text
SPAN_SEP = "\x1e"  # RS — joins serialized spans


def span_serialize_col(spans: Column | str) -> Column:
    """Canonical serialization of an input_hint spans array.

    Spans sort by ``offset`` (the order the input_hint invariant
    preserves), then each serializes as kind␟text␟media_ref (US-joined,
    nulls -> ''), RS-joined across spans — a deterministic, collision-free
    encoding of the per-row sequence (kind, text, media_ref, order) that
    SQL reproduces with plain string concatenation. All codegen'd array
    expressions; media payloads are never touched (media spans carry
    refs, not bytes).
    """
    c = F.col(spans) if isinstance(spans, str) else spans
    ordered = F.array_sort(
        F.transform(
            c,
            lambda s: F.struct(
                s["offset"].alias("offset"),
                F.concat(
                    F.coalesce(s["kind"], F.lit("")),
                    F.lit(SPAN_FIELD_SEP),
                    F.coalesce(s["text"], F.lit("")),
                    F.lit(SPAN_FIELD_SEP),
                    F.coalesce(s["media_ref"], F.lit("")),
                ).alias("ser"),
            ),
        )
    )
    return F.array_join(F.transform(ordered, lambda s: s["ser"]), SPAN_SEP)


def exact_duplicate_spans(df: DataFrame) -> DataFrame:
    """Exact dedup of interleaved text+media documents by span-sequence.

    The input_hint-shape twin of :func:`exact_duplicates`: two documents
    are duplicates iff their span SEQUENCES agree on (kind, text,
    media_ref, order) — the per-row invariant — via
    :func:`span_serialize_col`. Same 128-bit two-independent-xxhash64
    shuffle key (16 bytes/doc; serialized spans never move), same
    (doc_id, canonical_id, n_copies) contract, duplicates only.
    """
    ser = span_serialize_col("spans")
    keyed = df.select(
        "doc_id",
        F.xxhash64(ser).alias("fp1"),
        F.xxhash64(F.lit(1), ser).alias("fp2"),
    )
    groups = keyed.groupBy("fp1", "fp2").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies")
    )
    return (
        keyed.join(groups.where(F.col("n_copies") > 1), ["fp1", "fp2"])
        .select("doc_id", "canonical_id", "n_copies")
    )


def _kind_serialize_col(spans: Column | str, text_kind: bool) -> Column:
    """Serialize only the text spans (kind+text) or only the non-text
    spans (kind+media_ref), offset-ordered — the two halves of
    :func:`span_serialize_col`, used to compare them independently."""
    c = F.col(spans) if isinstance(spans, str) else spans
    pred = (lambda s: s["kind"] == F.lit("text")) if text_kind else (
        lambda s: s["kind"] != F.lit("text")
    )
    payload = (lambda s: s["text"]) if text_kind else (lambda s: s["media_ref"])
    ordered = F.array_sort(
        F.transform(
            F.filter(c, pred),
            lambda s: F.struct(
                s["offset"].alias("offset"),
                F.concat(
                    F.coalesce(s["kind"], F.lit("")),
                    F.lit(SPAN_FIELD_SEP),
                    F.coalesce(payload(s), F.lit("")),
                ).alias("ser"),
            ),
        )
    )
    return F.array_join(F.transform(ordered, lambda s: s["ser"]), SPAN_SEP)


def cross_media_duplicates(df: DataFrame) -> DataFrame:
    """Re-hosted-document detector over interleaved docs: groups whose
    TEXT span sequence is identical while the media-ref sequence varies
    -> (doc_id, text_canonical_id, n_text_copies, n_media_variants),
    flagged docs only.

    The curation case exact span dedup cannot see: the same article
    re-published with re-hosted/re-encoded images is NOT an exact
    span-sequence duplicate (media_refs differ) but is one document for
    training purposes — and conversely a text group with several media
    variants is where naive text-only dedup silently drops distinct
    image supervision. Scale shape: per doc only (id, 128-bit text
    fingerprint, 64-bit media fingerprint) ride the exchange (text and
    refs never move); one map-side-combined groupBy computes copies +
    distinct-variant counts; flagged groups join back on the slim key.
    """
    t = _kind_serialize_col("spans", text_kind=True)
    m = _kind_serialize_col("spans", text_kind=False)
    keyed = df.select(
        "doc_id",
        F.xxhash64(t).alias("tfp1"),
        F.xxhash64(F.lit(1), t).alias("tfp2"),
        F.xxhash64(m).alias("mfp"),
    )
    groups = (
        keyed.groupBy("tfp1", "tfp2")
        .agg(
            F.min("doc_id").alias("text_canonical_id"),
            F.count("*").alias("n_text_copies"),
            F.count_distinct("mfp").alias("n_media_variants"),
        )
        .where((F.col("n_text_copies") > 1) & (F.col("n_media_variants") > 1))
    )
    return keyed.join(groups, ["tfp1", "tfp2"]).select(
        "doc_id", "text_canonical_id", "n_text_copies", "n_media_variants"
    )


def minhash_index(
    df: DataFrame,
    k: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """The MinHash index ``(base(doc_id, sh), band(doc_id, bk))``: k-word
    shingle hashes, their signature (one single-pass aggregate, see
    ``blocking.minhash_col``) and its ``bands`` band keys.

    The only builder of the shingle -> signature -> band table:
    :func:`minhash_near_duplicates` self-joins it, and write-once/
    probe-many callers build it ONCE for the corpus (its base is
    ``localCheckpoint``-ed here; a stage table / bucketed write in the
    pipeline) and probe it with every arriving batch via
    ``delta_near_duplicates`` — the dedup analog of the linkage delta
    probe (``streaming/incremental.py::delta_candidates``): the corpus
    is never re-shingled and never re-paired against itself.
    """
    # Filter null text BEFORE the shingle projection, not `size(sh) > 0`
    # after it: predicate pushdown rewrites a filter on a projected alias
    # into a filter on the underlying EXPRESSION below the project, so the
    # interpreted shingle fold ran once for the filter and again for the
    # output column (measured 4.3s -> 1.4s for the sf0.1 base build).
    # Equivalent: shingle_hashes yields >= 1 element for any non-null
    # text (n >= k windows, or the single joined-words shingle when
    # n < k, [hash("")] for empty text) and null only for null text.
    base = (
        df.where(F.col("text").isNotNull())
        .select("doc_id", shingle_hashes("text", k).alias("sh"))
        .withColumn("_sig", minhash_col(F.col("sh"), bands * rows_per_band))
        .localCheckpoint()
    )
    band = base.select(
        "doc_id",
        F.explode(band_keys(F.col("_sig"), bands, rows_per_band, "b{}:")).alias("bk"),
    )
    return base.select("doc_id", "sh"), band


def delta_near_duplicates(
    corpus_index: tuple[DataFrame, DataFrame],
    delta: DataFrame,
    k: int = 3,
    threshold: float = 0.7,
    bands: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Near-dup pairs the ARRIVING batch adds: delta-vs-corpus and
    delta-vs-delta, never corpus-vs-corpus (those are already known).

    ``corpus_index`` comes from :func:`minhash_index` over the standing
    corpus. The delta is indexed with the same parameters, its band
    table probes ``corpus_band UNION delta_band``, and candidates
    verify against exact shingle Jaccard. Output ``(id1, id2,
    jaccard)`` with id1 < id2; every pair has >= 1 delta endpoint.

    Equivalence contract (pinned in tests + the driver oracle): the
    result equals ``minhash_near_duplicates(corpus UNION delta)``
    filtered to pairs with a delta endpoint — banding, verification
    and threshold semantics are shared, only the candidate-generation
    work shrinks from O(corpus bands²) to O(delta-touched bands).
    """
    corpus_base, corpus_band = corpus_index
    delta_base, delta_band = minhash_index(delta, k, bands, rows_per_band)
    all_band = corpus_band.unionByName(delta_band)
    cand = (
        delta_band.select(F.col("doc_id").alias("ida"), "bk")
        .join(all_band.select(F.col("doc_id").alias("idb"), "bk"), "bk")
        .where(F.col("ida") != F.col("idb"))
        .select(
            F.least("ida", "idb").alias("id1"), F.greatest("ida", "idb").alias("id2")
        )
        .dropDuplicates(["id1", "id2"])
    )
    all_base = corpus_base.unionByName(delta_base)
    return _verified(cand, all_base, "sh", _jaccard, "jaccard", threshold)


def semantic_duplicates(
    vectors: DataFrame, threshold: float = 0.9, n_centroids: int | None = None
) -> DataFrame:
    """SemDeDup-style semantic dedup -> (vec_id, cent_id, dup_of, is_dup).

    The k-means-bucketed embedding dedup of Abbas et al. 2023
    ("SemDeDup"): cluster the corpus embeddings with the coarse
    quantizer, then run the exact pairwise-cosine check ONLY within each
    cluster — the clusters bound the quadratic cost, which is the
    paper's entire scaling argument (cross-cluster near-dups are
    sacrificed by design; the complementary recall shape is
    :func:`embedding_near_duplicates`' hyperplane-LSH multi-probe). A
    vector is a duplicate iff a lower-id vector in its cluster is within
    ``threshold`` cosine; ``dup_of`` is the lowest such id (the
    keep-first convention shared with exact_duplicates), so survivors
    are exactly the ``is_dup = false`` rows.

    Scale shape: the quantizer is the broadcast nearest-centroid
    assignment of ``ann.ivf_assign`` (one corpus scan, vectors never
    shuffle for assignment); the within-cluster self-join shuffles on
    cent_id — list sizes are the knob (``n_centroids ~ sqrt(n)`` keeps
    E[list] ~ sqrt(n)); the assigned table is checkpointed once so the
    quantizer does not recompute per join arm. The quantizer is the
    deterministic lowest-id seed sample (oracle-checkable).
    """
    from pprl_spark.operators.ann import _quantizer, cosine, ivf_assign

    cent = _quantizer(vectors, n_centroids, kmeans_iters=0)
    base = ivf_assign(vectors, cent, nprobe=1).select(
        "vec_id", F.col("embedding").alias("v"), "cent_id"
    ).localCheckpoint()
    a = base.select("cent_id", F.col("vec_id").alias("id1"), F.col("v").alias("v1"))
    b = base.select("cent_id", F.col("vec_id").alias("id2"), F.col("v").alias("v2"))
    dup = (
        a.join(b, "cent_id")
        .where(F.col("id1") < F.col("id2"))
        .withColumn("cos", cosine(F.col("v1"), F.col("v2")))
        .where(F.col("cos") >= threshold)
        .groupBy(F.col("id2").alias("vec_id"))
        .agg(F.min("id1").alias("dup_of"))
    )
    return (
        base.select("vec_id", "cent_id")
        .join(dup, "vec_id", "left")
        .select(
            "vec_id", "cent_id", "dup_of", F.col("dup_of").isNotNull().alias("is_dup")
        )
    )
