"""Candidate-pair generation: blocked equi-join + sparse scoring.

Replaces the reference's dense cross-join similarity matrix
(`/root/reference/src/pprl/embedder/embedder.py:468-528`, SURVEY.md §2.4
J1) with a block-key equi-join producing a long-form
``(id1, id2, sim)`` pair table. Scoring stays JVM-side:
identity-SCM soft-cosine ≡ cosine = |A∩B| / (√|A|·√|B|) via
``size(array_intersect(...))`` on the sorted sparse index arrays
(`embedder.py:519` reduces to exactly this when scm = I; see
`docs/tutorials/example-verknupfung.qmd:168-169`).

Scale mechanics:
- dedupe (doc, key) explosion BEFORE the join;
- one count of the caller's input picks the join shape
  (:func:`choose_pair_join_hint`) before anything else is planned;
- celebrity blocks are thinned to ~``max_block_size`` docs
  (:func:`cap_blocks`);
- per-block salting only where the join shuffles (sort-merge or
  shuffle-hash on unbucketed inputs): side-1 rows get
  ``salt = pmod(hash(id), S)``, side-2 rows replicate over all S salts
  (S <= ``SALT_BUCKETS``; small blocks keep S=1), so a hot block's pairs
  spread over S reduce tasks. A broadcast probe is not partitioned by
  key and is never salted; AQE's skew join splits by input bytes, not
  output pairs, and does not replace salting;
- per-pair dedupe (a pair may share several keys) via min(block_key)
  groupBy, which also carries provenance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pprl_spark.config import EmbedderConfig

# Salt fan-out ceiling for a hot block in the shuffled join shapes.
SALT_BUCKETS = 8


def _heap_bytes(spark, key: str, default: str = "1g") -> int:
    """A Spark memory conf in bytes, parsed by Spark's own rule for
    ``spark.driver.memory``/``spark.executor.memory`` (``JavaUtils.byteStringAsMb``:
    a bare number is MiB, ``4gb`` = ``4g``); 1 GiB if Spark rejects it."""
    from py4j.protocol import Py4JJavaError

    raw = str(spark.conf.get(key, default) or default).strip()
    java_utils = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    try:
        return int(java_utils.byteStringAsMb(raw)) * 2**20
    except Py4JJavaError:
        return 2**30


def broadcast_fits(
    spark, nbytes: int, driver_heap: int | None = None, exec_heap: int | None = None
) -> bool:
    """The one broadcast budget: a relation of ``nbytes`` in memory may be
    broadcast iff it fits in 10% of the smaller of driver/executor heap.

    ``driver_heap``/``exec_heap`` (bytes) override the conf reads — for
    tests (``spark.driver.memory`` is immutable at runtime) and callers
    that know the real executor sizing better than the conf.
    """
    if driver_heap is None:
        driver_heap = _heap_bytes(spark, "spark.driver.memory")
    if exec_heap is None:
        exec_heap = _heap_bytes(spark, "spark.executor.memory", default="0")
    if exec_heap == 0:
        # spark.executor.memory is unset. Only in local mode does the
        # driver JVM double as the executor; on a cluster an unset conf
        # means Spark's 1g per-executor default, and substituting a large
        # driver heap here would authorize a broadcast the 1g executors
        # cannot hold (the exact OOM this bound exists to prevent).
        master = str(spark.conf.get("spark.master", "") or "")
        if master.startswith("local"):
            exec_heap = driver_heap
        else:
            exec_heap = 2**30  # Spark's executor-memory default: 1g
    return nbytes < 0.10 * min(driver_heap, exec_heap)


def choose_pair_join_hint(
    spark,
    build_rows: int,
    driver_heap: int | None = None,
    exec_heap: int | None = None,
    n_words: int = 16,
) -> str:
    """Pick the pair-join strategy from observable state.

    The unhinted plan is a trap: Catalyst's size estimate under the
    explode/checkpoint lineage comes in under the broadcast threshold and
    silently builds a corpus-sized driver hash relation (measured ~400MB
    at 400k docs — driver OOM). ``auto`` replaces that guess with a
    counted build side and the *configured* memory:

    - **broadcast** when the estimated in-memory relation fits the
      :func:`broadcast_fits` budget. Bytes/row scales with the
      Bloom width: the bitmap is ``8*n_words`` B plus a measured ~572 B
      of fixed per-row overhead (key, id, n, hash-relation slots) — the
      calibration point is 700 B/row at bf_size=1024 (n_words=16), the
      100k-doc run's ~400MB from ~600k rows. A fixed 700 B/row constant
      underestimated bf_size=8192 relations ~2.3x and could authorize a
      broadcast past the heap bound. This recovers the fast plan for
      small-to-medium corpora WITH a provable bound, instead of trusting
      Catalyst's estimate.
    - **merge** (sort-merge) otherwise — spills, completes at any scale.

    ``shuffle_hash`` is deliberately NOT auto-selected. It is pinnable
    explicitly (``pair_join_hint="shuffle_hash"``) for operators who have
    measured their cluster, but repeated measurement at 100k docs/side
    shows it is not robustly faster and fails catastrophically under
    memory pressure: local[16]/64 parts 75.0s vs merge 76.9s (a tie);
    local[16]/16 parts 133s vs 81.5s (1.6x WORSE — every core pins one
    large build map); local[32]/128 parts 112.5s then a >570s timeout on
    repeat vs merge's stable 91.1s (GC death spiral once 32 concurrent
    builds contend with the checkpointed block tables in the unified
    pool). A strategy whose best case is a tie and whose worst case is a
    wedged stage has no business being chosen automatically; sort-merge
    degrades gracefully (spills) at every scale and parallelism measured.
    """
    # bytes/row = bitmap (8*n_words) + measured fixed overhead (~572B of
    # key/id/n plus hash-relation slots); 700B/row at the n_words=16
    # calibration point
    inmem_bytes = build_rows * (8 * n_words + 572)
    return "broadcast" if broadcast_fits(spark, inmem_bytes, driver_heap, exec_heap) else "merge"


def _similarity_expr(sim: str):
    i = F.col("_isect").cast("double")
    s1 = F.col("_n1").cast("double")
    s2 = F.col("_n2").cast("double")
    if sim == "cosine":
        return i / (F.sqrt(s1) * F.sqrt(s2))
    if sim == "dice":
        return F.lit(2.0) * i / (s1 + s2)
    raise ValueError(f"unknown similarity {sim!r}")


def bitmap_intersect_count(bm1, bm2, n_words: int | None = None):
    """|A ∩ B| from two bitmaps: sum of bit_count(word AND word) — exactly
    equal to size(array_intersect(...)) on the distinct index arrays.

    Pass ``n_words`` (the fixed bitmap width every caller knows from
    config) to get the UNROLLED form — a flat sum of
    ``bit_count(element_at AND element_at)`` terms, all codegen'd
    expressions — instead of the higher-order-function fold, which is
    interpreted per pair (HOFs never enter whole-stage codegen): measured
    2.8s -> 0.8s for scoring the 18.4M-row sf0.1 block join, identical
    values. The fold remains as the fallback for unknown widths.
    """
    if n_words is not None:
        acc = None
        for w_ in range(n_words):
            term = F.bit_count(
                F.element_at(bm1, w_ + 1).bitwiseAND(F.element_at(bm2, w_ + 1))
            ).cast("long")
            acc = term if acc is None else acc + term
        return acc
    return F.aggregate(
        F.zip_with(bm1, bm2, lambda a, b: F.bit_count(a.bitwiseAND(b)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def cap_blocks(blocks: DataFrame, config: EmbedderConfig) -> DataFrame:
    """Deterministically thin oversized blocks to ~max_block_size docs.

    Celebrity keys (a shared surname+postcode at web scale) produce
    blocks whose pair count grows quadratically — one 10^6-doc block is
    10^12 pairs on its own. Each doc in a block of size n survives with
    probability 1/ceil(n/cap) via a keyed hash — no window/sort needed,
    just a broadcast of the (hot-key -> factor) dim table and a map-side
    filter. Deterministic across runs and partitionings. True matches
    inside thinned blocks are still covered by the (selectivity-bounded)
    MinHash band keys, which are never the oversized ones unless the
    corpus is degenerate; the F1 gate validates the net effect.
    """
    cap = config.max_block_size
    if not cap:
        return blocks
    # Thin on the HASHED key on both input shapes: bucketed stage tables
    # carry _bk = xxhash64(block_key), so hashing the plain path's string
    # key first makes the per-doc survivor decision numerically identical
    # whether the caller feeds raw or bucketed block tables (one doc's
    # survival = pmod(xxhash64(hashed_key, id), factor) either way —
    # measured as a 1-match difference at 100k docs before this).
    if "_bk" in blocks.columns:
        keyed = blocks.withColumn("_capk", F.col("_bk"))
    else:
        keyed = blocks.withColumn("_capk", F.xxhash64("block_key"))
    hot = (
        keyed.groupBy("_capk")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > cap)
        .withColumn("_factor", F.ceil(F.col("_n") / F.lit(cap)).cast("long"))
        .select("_capk", "_factor")
    )
    out = (
        keyed.join(F.broadcast(hot), "_capk", "left")
        .where(
            F.col("_factor").isNull()
            | (F.pmod(F.xxhash64("_capk", "doc_id"), F.col("_factor")) == 0)
        )
        .drop("_factor")
    )
    return out.drop("_capk")


def generate_candidates(
    blocks1: DataFrame,
    blocks2: DataFrame | None,
    config: EmbedderConfig,
    cap: bool = True,
    min_sim: float | None = None,
    allow_uncapped: bool = False,
) -> DataFrame:
    """Join exploded block tables into scored candidate pairs.

    Each block table carries ``doc_id``, ``block_key`` (or its stored
    hash ``_bk``), the embed kernel's ``bf_bitmap`` and ``bf_n`` (or
    ``bf_indices``). ``blocks2=None`` means self-linkage (dedup): pairs within one table
    with ``id1 < id2``. Output: (id1, id2, block_key_hash, sim) with one
    row per distinct pair (provenance is the xxhash64 of the block key —
    the join carries hashed keys + bitmaps, never the strings/arrays).

    ``min_sim`` prunes scored pairs BEFORE the pair-dedupe exchange: the
    filter runs map-side on the join output, so sub-cutoff pairs (the
    vast majority under LSH banding) never hit the shuffle. Pass the
    pipeline's abs_cutoff here when downstream masking would drop them
    anyway (P4, `embedder.py:276`).

    ``allow_uncapped=True`` acknowledges a deliberate ``cap=False`` on
    pre-bucketed inputs (e.g. exact union-equivalence for an oracle) and
    suppresses the no-skew-protection warning; without it the warning
    stays, so unwitting callers still hear about the unguarded shape.
    """
    # Join-side representation: hash the block key to a long (8B sort keys
    # instead of string compares) and score on the Bloom bitmap the embed
    # kernel precomputed (bf_bitmap; functions.hashing.pack_bitmap).
    # Measured at 100k docs/source, 16 cores: join+score went 37.7s with
    # (string key, int-array vectors, array_intersect) to 9.5s with
    # (hashed key, bitmaps, bit_count AND) — the shuffle/sort rows are
    # ~2.7x smaller and the per-pair intersect is 16 word-ANDs.
    n_words = -(-(config.bf_size + config.offset) // 64)

    # bucketed stage tables (sources.tables.write_bucketed_blocks) store
    # the hashed key as _bk; joining on the stored column keeps the
    # scan's bucket distribution valid, so the pair join runs with ZERO
    # exchanges on pre-bucketed inputs
    pre_bucketed = "_bk" in blocks1.columns or (
        blocks2 is not None and "_bk" in blocks2.columns
    )
    if pre_bucketed and not cap and not allow_uncapped:
        import warnings

        warnings.warn(
            "generate_candidates: pre-bucketed inputs skip salting and "
            "cap=False disables block capping — no skew protection is "
            "active. Pass cap=True (default) on bucketed inputs.",
            stacklevel=2,
        )

    # Join-strategy hint — NEVER let the planner choose unhinted: both
    # sides are corpus-sized (docs x keys, carrying the bitmaps), but
    # Catalyst's size estimate under the explode/checkpoint lineage comes
    # in under the broadcast threshold — at 100k docs/source the unhinted
    # plan silently broadcast a ~400MB hash relation from the driver; at
    # 400k it OOMed the driver outright. "auto" counts the build side and
    # broadcasts only under a provable heap bound, falling back to
    # sort-merge (stable at every measured scale: 100k 75-91s, 400k
    # 518.7s @5g — spills, never wedges); see choose_pair_join_hint for
    # why shuffle_hash is pin-only. The count runs on the caller's input
    # BEFORE capping: on the materialized stage tables and checkpoints
    # the pipeline and bench feed it is a scan-only job, and capping
    # only drops rows, so it bounds the capped build side from above.
    hint = config.pair_join_hint
    if hint == "auto":
        build = blocks2 if blocks2 is not None else blocks1
        hint = choose_pair_join_hint(
            blocks1.sparkSession, build.count(), n_words=n_words
        )

    if cap:
        blocks1 = cap_blocks(blocks1, config)
        if blocks2 is not None:
            blocks2 = cap_blocks(blocks2, config)

    def side(blocks, i):
        n = F.col("bf_n") if "bf_n" in blocks.columns else F.size("bf_indices")
        bk = F.col("_bk") if "_bk" in blocks.columns else F.xxhash64("block_key")
        return blocks.select(
            F.col("doc_id").alias(f"id{i}"),
            bk.alias("_bk"),
            F.col("bf_bitmap").alias(f"_bm{i}"),
            n.alias(f"_n{i}"),
        )

    left = side(blocks1, 1)
    right = side(blocks2 if blocks2 is not None else blocks1, 2)

    # ---- skew salting, shuffled shapes only ----------------------------
    # In sort-merge/shuffle-hash a block key is one reduce task, so a hot
    # block's ~n²/2 pairs land on one core. Left-side block sizes decide
    # the per-block fan-out S (1 for all but hot keys, so replication is
    # bounded); left takes one salted key, right replicates S times.
    # The broadcast shape is skipped: its probe side is not partitioned
    # by key, so salting only replicates the build side. Measured on the
    # sf0.1 pprl_score_pairs blocks (15,000 rows, largest block 3,857;
    # local[4], noop sink, one session): broadcast 8.4-8.5 s salted vs
    # 6.0-6.8 s not; forced sort-merge 10.5-12.4 s salted vs 15.4-17.3 s
    # not (AQE's skew join does not split it: its threshold is input
    # bytes, the skew is in output pairs).
    # PRE-BUCKETED inputs (a stored _bk column on either side) skip it
    # too: salt keys would force back the exchange bucketing removes
    # (Spark requires all cluster keys covered for co-partitioning) — on
    # the delta-match shape that is the whole write-once corpus
    # replicated over the salt range every batch. Skew safety there comes
    # from cap_blocks (~cap²/2 pairs per hot bucket task), hence the
    # cap=False warning above.
    join_keys = ["_bk"]
    if hint != "broadcast" and not pre_bucketed:
        sizes = (
            left.groupBy("_bk")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > config.max_block_size)
            .withColumn(
                "_s",
                F.least(
                    F.lit(SALT_BUCKETS),
                    F.ceil(F.col("_n") / F.lit(config.max_block_size)).cast("int"),
                ),
            )
            .select("_bk", "_s")
        )
        left = (
            left.join(F.broadcast(sizes), "_bk", "left")
            .withColumn("_s", F.coalesce(F.col("_s"), F.lit(1)))
            .withColumn("_salt", F.pmod(F.xxhash64("id1"), F.col("_s")).cast("int"))
            .drop("_s")
        )
        right = (
            right.join(F.broadcast(sizes), "_bk", "left")
            .withColumn("_s", F.coalesce(F.col("_s"), F.lit(1)))
            .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.col("_s") - 1)))
            .drop("_s")
        )
        join_keys = ["_bk", "_salt"]

    if hint == "broadcast":
        pairs = left.join(F.broadcast(right), join_keys)
    else:
        pairs = left.hint(hint).join(right, join_keys).drop("_salt")
    if blocks2 is None:
        pairs = pairs.where(F.col("id1") < F.col("id2"))

    # Score BEFORE the pair-dedupe shuffle: the intersect runs on the
    # join output where both bitmaps are already co-located, so the
    # groupBy below shuffles only (id1, id2, key, sim) scalars — at
    # 10^12 docs the pair table dominates, and not carrying two
    # vectors through the exchange is a ~10x shuffle saving.
    # Intersect form: the UNROLLED flat bit_count sum (codegen) only
    # when no min_sim filter follows (2.8s -> 0.8s on 18.4M pairs);
    # the compact interpreted HOF fold under a trailing filter. The
    # unrolled-under-filter alternatives were measured and rejected
    # twice, in both join shapes:
    # - broadcast shape, 20k docs/side, noop sink: fold 3.0s vs
    #   unrolled 7.5s, unrolled + a monotonically_increasing_id
    #   pushdown barrier 7.2s — the 16-term chain un-JITs the fused
    #   broadcast-probe stage (then still carrying a salt explode) with
    #   or without the pushed-down filter duplicating it;
    # - merge shape, 100k docs/side, local[4] (the at-scale shape):
    #   match phase 58.6s with the fold vs 241.4s with
    #   unrolled+barrier. A 20k merge-shape .count() probe had
    #   suggested the opposite (3.4s vs 8.9s) — but count() lets
    #   Catalyst prune first(sim) from the pair-dedupe aggregate, so
    #   that probe measured a plan the real query never runs.
    #   Probe with a noop sink or at the real consumer, not count().
    pairs = (
        pairs.withColumn(
            "_isect",
            bitmap_intersect_count(
                F.col("_bm1"),
                F.col("_bm2"),
                n_words if min_sim is None else None,
            ),
        )
        .withColumn("sim", _similarity_expr(config.similarity))
        .drop("_isect", "_bm1", "_bm2", "_n1", "_n2")
    )
    if min_sim is not None:
        pairs = pairs.where(F.col("sim") >= F.lit(min_sim))
    # a pair sharing k block keys appears k times with equal sim; the
    # dedupe is REQUIRED before mutual-best ranking (duplicate rows of
    # one pair could take rank 1 in the two windows independently and
    # lose the pair), and it shuffles only scalars. Provenance is the
    # hashed key (the string key never survives to the join sides).
    # Shape-dependent dedupe (same mechanism as setjoin.py): in the
    # sort-merge shape the join output is partitioned by block key,
    # so a pair's duplicates are cross-partition and the map-side
    # partial aggregate dedupes ~nothing — repartition(id1, id2)
    # runs both aggregate passes clustered instead. In the broadcast
    # shape the probe side is doc-ordered, duplicates are already
    # co-partitioned, and the map-side partial dedupes them before
    # any exchange — keep the plain groupBy there.
    if hint != "broadcast":
        pairs = pairs.repartition(F.col("id1"), F.col("id2"))
    return pairs.groupBy("id1", "id2").agg(
        F.min("_bk").alias("block_key_hash"), F.first("sim").alias("sim")
    )
