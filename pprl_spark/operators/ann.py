"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, and a random-hyperplane
LSH-bucketed variant as the scale path. Dot products run JVM-side via
``zip_with`` + ``aggregate`` (codegen'd); no Python in either path.

Scale notes: brute force is a broadcast nested-loop (queries broadcast,
corpus scanned once — right whenever |queries| ≪ |corpus|, the common
retrieval shape). The LSH variant buckets both sides by sign-bit keys so
each query only scores its bucket; multi-probe (hamming-1 neighbors of
the query key) trades recall for bucket fan-out.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MOD = 2_147_483_647
# vectors the expected LSH bucket holds (auto_n_planes)
TARGET_BUCKET = 64


def auto_n_planes(n_vectors: int) -> int:
    """Hyperplane count so the EXPECTED bucket holds ~TARGET_BUCKET vectors.

    A fixed n_planes=8 (256 buckets) is right at 10^4 vectors and
    catastrophically wrong at 10^9 (4M vectors per bucket — the bucket
    join degenerates back into the quadratic scan it exists to avoid).
    ceil(log2(n / target)) keeps per-bucket work constant as the corpus
    grows; clamped to [4, 24] (below 4 buckets stop discriminating, above
    24 the multiprobe fan-out dominates).
    """
    import math

    if n_vectors <= TARGET_BUCKET:
        return 4
    return max(4, min(24, math.ceil(math.log2(n_vectors / TARGET_BUCKET))))


def auto_n_centroids(n_vectors: int) -> int:
    """IVF list count ~ sqrt(n): balances list length (scan cost per probe,
    n/k) against quantizer cost (k comparisons per vector) — the standard
    IVF sizing rule. Clamped to [4, 65536]."""
    import math

    return max(4, min(65536, int(math.sqrt(max(n_vectors, 1)))))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` best ``cos`` rows, ranked 1..k (ties: lower vec_id)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cos, rank)."""
    q = queries.select("query_id", F.col("embedding").alias("qvec"))
    c = corpus.select("vec_id", F.col("embedding").alias("cvec"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id", cosine(F.col("qvec"), F.col("cvec")).alias("cos")
    )
    return _top_k(scored, k)


def _hyperplane(dim: int, j: int) -> list[float]:
    """Deterministic pseudo-random hyperplane (SQL-reproducible closed form)."""
    return [
        (((j + 1) * 2_654_435_761 + i * 40_503) % MOD) / MOD - 0.5 for i in range(dim)
    ]


def lsh_bucket_key(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Sign-bit bucket key from n_planes random hyperplanes."""
    bits = []
    for j in range(n_planes):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, j)])
        bits.append(F.when(dot(vec, plane) >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2**j))
    key = bits[0]
    for b in bits[1:]:
        key = key + b
    return key


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids by cosine.

    The IVF coarse-quantization step: centroids are a small broadcast dim
    table of (cent_id, cent_vec), the assignment is a broadcast join +
    per-vector ranking window over n_centroids rows — one corpus scan, no
    shuffle of the vectors themselves. Returns (id, embedding, cent_id,
    cent_rank).
    """
    c = centroids.select("cent_id", "cent_vec")
    scored = vectors.select(
        F.col(id_col).alias("_vid"), F.col("embedding").alias("_v")
    ).crossJoin(F.broadcast(c)).withColumn(
        "_cs", cosine(F.col("_v"), F.col("cent_vec"))
    )
    w = Window.partitionBy("_vid").orderBy(F.desc("_cs"), F.asc("cent_id"))
    return (
        scored.withColumn("cent_rank", F.row_number().over(w))
        .where(F.col("cent_rank") <= nprobe)
        .select(
            F.col("_vid").alias(id_col),
            F.col("_v").alias("embedding"),
            "cent_id",
            "cent_rank",
        )
    )


def _lloyd_centroids(corpus: DataFrame, n_centroids: int, iters: int) -> DataFrame:
    """Deterministic sampled k-means refinement of the coarse quantizer.

    Collects a bounded, deterministic sample (the ``min(100·k, 100k)``
    lowest-id vectors — a TakeOrdered, no full sort) to the driver and
    runs ``iters`` Lloyd steps in numpy with cosine assignment. Driver
    memory is bounded by the sample cap regardless of corpus size; the
    corpus itself is never collected. Init = the first ``n_centroids``
    sample vectors, so ``iters=0`` degenerates to the seed-sample
    quantizer exactly. Empty clusters keep their previous centroid.
    """
    import numpy as np

    sample_n = min(100 * n_centroids, 100_000)
    rows = corpus.select("vec_id", "embedding").orderBy("vec_id").limit(sample_n).collect()
    X = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    # a small corpus (or the sample cap) can yield fewer sample vectors
    # than requested centroids; clamp so the seed slice and the Lloyd /
    # emit loops below never index past the sample
    n_centroids = min(n_centroids, len(X))
    C = X[:n_centroids].copy()
    for _ in range(iters):
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        assign = (Xn @ Cn.T).argmax(axis=1)
        for j in range(n_centroids):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(int(j), [float(x) for x in C[j]]) for j in range(n_centroids)],
        "cent_id long, cent_vec array<double>",
    )


def _quantizer(
    corpus: DataFrame, n_centroids: int | None, kmeans_iters: int
) -> DataFrame:
    """The IVF coarse quantizer as (cent_id, cent_vec).

    ``n_centroids=None`` derives ~sqrt(corpus count) via
    :func:`auto_n_centroids` (one count action — cheap on a materialized
    corpus table). ``kmeans_iters=0`` keeps the deterministic seed-sample
    quantizer — the ``n_centroids`` lowest-id corpus vectors (TakeOrdered,
    no full sort), which keeps the IVF paths oracle-checkable; ``> 0``
    runs that many sampled Lloyd steps (:func:`_lloyd_centroids`, still
    fully deterministic) for better-balanced lists and higher recall.
    """
    if n_centroids is None:
        n_centroids = auto_n_centroids(corpus.count())
    if kmeans_iters > 0:
        return _lloyd_centroids(corpus, n_centroids, kmeans_iters)
    return (
        corpus.select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec"))
        .orderBy("cent_id")
        .limit(n_centroids)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int | None = None,
    nprobe: int = 4,
    kmeans_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: inverted-list search via a coarse quantizer.

    Corpus vectors are partitioned into ``n_centroids`` inverted lists
    (nearest-centroid assignment); each query probes only its ``nprobe``
    closest lists. At 10^12 vectors the list join replaces the full scan
    with ~nprobe/n_centroids of it, and the lists are the natural
    partitioning key for the corpus table (write bucketed by cent_id).

    ``n_centroids`` and ``kmeans_iters`` pick the quantizer
    (:func:`_quantizer`). The quantizer's *quality* affects recall only;
    the inverted-list mechanics — the part that must scale — are
    identical either way.
    """
    cent = _quantizer(corpus, n_centroids, kmeans_iters)
    lists = ivf_assign(corpus, cent, nprobe=1).select(
        "vec_id", F.col("embedding").alias("cvec"), "cent_id"
    )
    probes = ivf_assign(queries, cent, nprobe=nprobe, id_col="query_id").select(
        "query_id", F.col("embedding").alias("qvec"), "cent_id"
    )
    scored = lists.join(F.broadcast(probes), "cent_id").select(
        "query_id", "vec_id", cosine(F.col("qvec"), F.col("cvec")).alias("cos")
    )
    return _top_k(scored, k)


def write_ivf_index(
    corpus: DataFrame, base_path: str, n_centroids: int | None = None
) -> None:
    """Persist an IVF index: train the quantizer ONCE, write the lists.

    The write-once/probe-many pattern the bucketed corpus tables use for
    pair joins, applied verbatim to ANN: quantizer training plus the
    corpus-wide list assignment (the O(n·k) crossJoin + ranking window —
    the expensive part of :func:`ivf_topk`) happen at write time; every
    later query batch runs :func:`ivf_probe` against the stored artifact
    without re-touching the corpus.

    Layout under ``base_path``:

    - ``centroids/``: plain parquet (cent_id, cent_vec) — a small dim
      table, broadcast at probe time;
    - ``lists/``: parquet PARTITIONED BY cent_id (vec_id, embedding) —
      each inverted list is its own partition directory, so a probe's
      cent_id filter becomes a PartitionFilter and only nprobe of the
      n_centroids lists are ever READ from storage (~nprobe/√n of the
      corpus at the auto sizing). On a cluster the same write targets an
      Iceberg table partitioned by cent_id.

    The quantizer is :func:`ivf_topk`'s default: the lowest-id seed
    sample, oracle-checkable.
    """
    # train once: the assignment below broadcasts it twice
    cent = _quantizer(corpus, n_centroids, kmeans_iters=0).localCheckpoint()
    cent.write.mode("overwrite").parquet(f"{base_path}/centroids")
    lists = ivf_assign(corpus, cent, nprobe=1).select("cent_id", "vec_id", "embedding")
    # repartition by the partition column first: partitionBy writes one
    # file per (task, value) pair — without it, every task holding rows
    # of every list writes n_centroids tiny files
    (
        lists.repartition("cent_id")
        .write.mode("overwrite")
        .partitionBy("cent_id")
        .parquet(f"{base_path}/lists")
    )


def append_ivf_index(new_vectors: DataFrame, base_path: str) -> None:
    """Fold newly-landed vectors into a persisted IVF index — the ANN
    analog of the delta-match pattern: assign the DELTA against the
    existing (frozen) centroids and append its list rows; the base
    corpus is never rescanned and the quantizer is never retrained.
    Probes issued afterwards see base+delta transparently (same
    partition layout, appended files). Quantizer drift under heavy
    appends degrades recall, not correctness — rebuild the index
    (:func:`write_ivf_index`) when the appended volume warrants it,
    exactly like re-clustering a bucketed corpus table.
    """
    spark = new_vectors.sparkSession
    cent = spark.read.parquet(f"{base_path}/centroids")
    lists = ivf_assign(new_vectors, cent, nprobe=1).select("cent_id", "vec_id", "embedding")
    (
        lists.repartition("cent_id")
        .write.mode("append")
        .partitionBy("cent_id")
        .parquet(f"{base_path}/lists")
    )


def read_ivf_index(spark, base_path: str) -> tuple[DataFrame, DataFrame]:
    """(centroids, lists) from a :func:`write_ivf_index` artifact."""
    return (
        spark.read.parquet(f"{base_path}/centroids"),
        spark.read.parquet(f"{base_path}/lists"),
    )


def ivf_probe(
    centroids: DataFrame,
    lists: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k search against a persisted IVF index — corpus never touched.

    Queries are assigned to their ``nprobe`` nearest centroids (broadcast
    of the small centroid table), then the probed cent_ids are collected
    (bounded: ≤ nprobe·|queries| values, and |queries| ≪ corpus is the
    IVF precondition) and pushed as a STATIC filter on the lists scan —
    on the partitioned layout :func:`write_ivf_index` produces this is a
    PartitionFilter, so unprobed lists are never read, not merely never
    joined. Identical results to :func:`ivf_topk` at the same quantizer
    (equality pinned in tests/test_ann_recall.py).
    """
    probes = ivf_assign(queries, centroids, nprobe=nprobe, id_col="query_id").select(
        "query_id", F.col("embedding").alias("qvec"), "cent_id"
    )
    probes = probes.localCheckpoint()  # assignment runs once: collect + join
    probed_ids = [r["cent_id"] for r in probes.select("cent_id").distinct().collect()]
    pruned = lists.where(F.col("cent_id").isin(probed_ids))
    scored = pruned.join(F.broadcast(probes), "cent_id").select(
        "query_id", "vec_id", cosine(F.col("qvec"), F.col("embedding")).alias("cos")
    )
    return _top_k(scored, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int | None = None,
    multiprobe: bool = True,
) -> DataFrame:
    """LSH-bucketed approximate top-k.

    Buckets corpus once; queries probe their own bucket plus (optionally)
    all hamming-1 neighbor buckets. Bucket join replaces the cross join —
    at 10^12 vectors each query touches ~(1+n_planes)/2^n_planes of the
    corpus instead of all of it. ``n_planes=None`` derives the plane
    count from the corpus size (:func:`auto_n_planes`) so the expected
    bucket stays ~constant as the corpus grows.
    """
    if n_planes is None:
        n_planes = auto_n_planes(corpus.count())
    vec = F.col("embedding")
    c = corpus.select(
        "vec_id", vec.alias("cvec"), lsh_bucket_key(vec, dim, n_planes).alias("bucket")
    )
    qkey = lsh_bucket_key(vec, dim, n_planes)
    probes = [qkey] + (
        [qkey.bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)] if multiprobe else []
    )
    q = queries.select(
        "query_id", vec.alias("qvec"), F.explode(F.array(*probes)).alias("bucket")
    )
    scored = c.join(F.broadcast(q), "bucket").select(
        "query_id", "vec_id", cosine(F.col("qvec"), F.col("cvec")).alias("cos")
    )
    return _top_k(scored.dropDuplicates(["query_id", "vec_id"]), k)
