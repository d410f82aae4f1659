"""Corpus-level statistics and hygiene operators for training-data pipelines.

Three operators a 100 TB pre-training pipeline runs once per corpus pass:

- :func:`vocab_topk` — global heavy hitters (top-k tokens by frequency).
  The shuffle carries one (word, partial_count) row per distinct word per
  map partition (map-side combine), never raw tokens; the final top-k is
  ``TakeOrderedAndProject`` (per-partition heap + driver merge of k rows),
  not a global sort.
- :func:`decontaminate` — benchmark n-gram overlap detection, the
  "test-set decontamination" pass every published LLM corpus runs (see
  e.g. GPT-3 appendix C / PaLM §C): flag corpus documents that share a
  token n-gram with a (small) held-out benchmark set. The benchmark gram
  table is broadcast — it is by construction orders of magnitude smaller
  than the corpus — so the corpus side is a scan + broadcast semi-join:
  zero corpus-sized shuffles.
- :func:`tfidf_top_terms` — per-document top-n terms by TF-IDF against
  corpus document frequencies. Two aggregations over slim rows: the DF
  table (distinct (doc, word) -> groupBy word, map-side combined) and a
  final per-doc top-n. The IDF variant is log-free —
  ``(N+1)/(df+1)`` — so every arithmetic step is an exactly-rounded
  IEEE-754 operation and the scores are bit-identical across engines
  (``ln`` is libm-dependent and would make oracle tie-breaks flaky).

Reference parity: the reference toolkit (datasciencecampus/pprl_toolkit)
has no corpus-statistics stage; these extend the engine for the
training-data brief, mirroring the feature-extraction conventions of
``functions/text.py`` (whitespace tokenization, rolling-hash grams).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pprl_spark.functions.text import rolling_hash_col, word_shingles, words_col


def vocab_topk(docs: DataFrame, k: int = 100) -> DataFrame:
    """Top-``k`` corpus tokens by frequency -> (word, cnt).

    Deterministic total order (cnt desc, word asc) so the cut at rank k
    never depends on partitioning. ``orderBy(...).limit(k)`` compiles to
    ``TakeOrderedAndProject`` — each partition keeps a k-row heap and the
    driver merges k rows per partition; no single-partition global sort.
    The only shuffle is the word-count groupBy, map-side combined, so it
    carries at most |vocab| rows per map partition regardless of corpus
    size.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    counts = (
        docs.select(F.explode(words_col("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    return counts.orderBy(F.desc("cnt"), F.asc("word")).limit(k)


def benchmark_grams(bench: DataFrame, n: int = 5) -> DataFrame:
    """Distinct rolling-hash token ``n``-grams of a benchmark set -> (gram).

    One row per distinct gram hash. The hash is the SQL-reproducible
    rolling hash (``functions.text.rolling_hash_col``), so the oracle can
    recompute identical join keys; at 100 TB the join carries 8-byte
    hashes, never gram strings.
    """
    return (
        bench.select(
            F.explode(
                F.array_distinct(
                    F.transform(word_shingles("text", n), lambda s: rolling_hash_col(s))
                )
            ).alias("gram")
        )
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    n: int = 5,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Flag corpus docs sharing a token n-gram with a benchmark set.

    Returns (doc_id, n_shared) — the count of DISTINCT benchmark grams
    each contaminated document contains; clean documents are absent (the
    caller anti-joins to drop, or left-joins to annotate).

    Scale shape: the benchmark gram set is tiny relative to the corpus
    (eval suites are
    thousands of documents; the corpus is 10^12), so it is broadcast and
    the corpus side never shuffles raw text — the per-doc gram explode
    feeds a broadcast hash join and the only exchange is the final
    groupBy(doc_id) over the (rare) contaminated rows. Set
    ``broadcast_benchmark=False`` to fall back to a shuffle join when the
    benchmark genuinely exceeds executor memory.
    """
    grams = benchmark_grams(bench, n)
    if broadcast_benchmark:
        grams = F.broadcast(grams)
    doc_grams = corpus.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(word_shingles("text", n), lambda s: rolling_hash_col(s))
            )
        ).alias("gram"),
    )
    hits = doc_grams.join(grams, "gram")
    return hits.groupBy("doc_id").agg(F.count("*").alias("n_shared"))


def tfidf_top_terms(docs: DataFrame, n_top: int = 3) -> DataFrame:
    """Per-document top-``n_top`` terms by TF-IDF -> (doc_id, word, score, rank).

    score = (count(word in doc) / n_tokens(doc)) * (N + 1) / (df(word) + 1)

    — the log-free IDF variant: every step (integer-valued doubles,
    one divide, one multiply) is exactly rounded, so Spark and any SQL
    engine produce bit-identical doubles and the (score desc, word asc)
    tie-break is stable across engines. Ranks are dense per doc; ``rank
    <= n_top`` rows are returned.

    Scale shape: term counts are computed per-row with array expressions
    (no corpus-wide (doc, word) shuffle for TF); the DF table is a
    map-side-combined groupBy over distinct (doc, word) hashes; IDF is
    broadcast back (vocabulary ≪ corpus); the final top-n is one window
    over slim (doc_id, word, score) rows. N is one count action at
    construction.
    """
    if n_top <= 0:
        raise ValueError(f"n_top must be positive, got {n_top}")
    n_docs = docs.count()
    w = words_col("text")
    # per-row distinct terms with in-place counts: O(distinct * tokens)
    # per document (documents are bounded), zero shuffle for TF
    # checkpointed once: both the DF aggregation and the scoring join read
    # it, and the per-row O(distinct * tokens) term-count expansion would
    # otherwise run twice (measured ~2x the stage cost at sf0.1)
    per_doc = docs.select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        F.explode(
            F.transform(
                F.array_distinct(w),
                lambda d: F.struct(
                    d.alias("word"),
                    F.size(F.filter(w, lambda x: x == d)).alias("tf"),
                ),
            )
        ).alias("t"),
    ).select(
        "doc_id", "n_tokens", F.col("t.word").alias("word"), F.col("t.tf").alias("tf")
    ).localCheckpoint()
    df_table = per_doc.groupBy("word").agg(F.count("*").alias("df"))
    scored = per_doc.join(F.broadcast(df_table), "word").select(
        "doc_id",
        "word",
        (
            (F.col("tf").cast("double") / F.col("n_tokens").cast("double"))
            * (F.lit(float(n_docs + 1)) / (F.col("df").cast("double") + F.lit(1.0)))
        ).alias("score"),
    )
    from pyspark.sql.window import Window

    win = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("word"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= n_top)
    )


def quality_trim(
    docs: DataFrame,
    quality,
    frac: float = 0.1,
) -> DataFrame:
    """Drop the bottom ``frac`` quality quantile, threshold calibrated
    FROM the corpus (the way production quality cutoffs are actually
    set — a fixed constant is wrong the moment the corpus mix shifts).

    The threshold is a 1-row aggregate broadcast-joined back (lazy — no
    driver action at construction), so the operator is two scans: one to
    aggregate the cutoff, one codegen'd filter. The cutoff is
    ``F.percentile`` (type-7, oracle-reproducible via DuckDB
    ``quantile_cont``) whose single-group agg ships every value to one
    aggregator — the same documented tradeoff as
    ``events.event_value_percentiles``.
    """
    if not 0.0 <= frac < 1.0:
        raise ValueError(f"frac must be in [0,1), got {frac}")
    thr = docs.agg(F.percentile(quality, F.lit(frac)).alias("_thr"))
    return (
        docs.join(F.broadcast(thr))
        .where(quality >= F.col("_thr"))
        .drop("_thr")
    )


def unigram_surprisals(docs: DataFrame) -> DataFrame:
    """Unigram surprisal table -> (word, cnt, surprisal_u).

    ``surprisal_u = floor(1e6 * ln(total_tokens / cnt))`` — the
    negative log-probability of each corpus token in integer
    **micro-nats**. Truncating to integers at the (small) vocabulary
    table is what makes the whole CCNet-style scoring stack
    cross-engine exact: every downstream step (per-document sums,
    ``floor(sum/n)`` means, percentile cuts) is then integer or
    exactly-rounded arithmetic, immune to the 1-ulp ``ln`` divergence
    between libm implementations (measured on this host: Spark and
    DuckDB disagree on ``ln(3.0)``'s last bit). The residual risk is a
    single floor-boundary landing within 1 ulp of a 1e-6 grid point for
    some vocabulary word — checked empirically by the driver oracle on
    the fixed test grids.

    Scale shape: one map-side-combined word-count groupBy (the shuffle
    carries ≤ |vocab| rows per map partition); the total is a 1-row
    aggregate broadcast back. Lazy — no driver action at construction.
    """
    # two consumers (the grand total and the surprisal projection) read
    # the word-count table; checkpoint it or the corpus explode+groupBy
    # runs twice
    counts = (
        docs.select(F.explode(words_col("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    total = counts.agg(F.sum("cnt").cast("double").alias("_total"))
    return counts.join(F.broadcast(total)).select(
        "word",
        "cnt",
        F.floor(
            F.log(F.col("_total") / F.col("cnt").cast("double")) * F.lit(1e6)
        ).alias("surprisal_u"),
    )


def surprisal_scores(
    docs: DataFrame,
    vocab: DataFrame,
    oov_surprisal_u: int | None = None,
) -> DataFrame:
    """Per-document mean unigram surprisal (CCNet-style LM quality proxy)
    -> (doc_id, n_tokens, sum_u, mean_u).

    The language-model-perplexity filter of Wenzek et al. (CCNet, 2020)
    with the KenLM 5-gram model replaced by the corpus' own unigram
    model (:func:`unigram_surprisals`): fluent, ordinary documents score
    low; rare-token soup (boilerplate, lexicon spam, mojibake) scores
    high. ``mean_u = floor(sum_u / n_tokens)`` stays in integer
    micro-nats: sum and count are exact integers, and for n ≤ 1e12 the
    double division cannot cross an integer boundary (the exact ratio is
    ≥ 1/n from any non-attained integer, ≫ the 1e-16 relative rounding
    error), so the floor is engine-independent.

    Scale shape: explode keeps same-document tokens in their partition
    (explode never exchanges), the vocab join is broadcast (vocabulary ≪
    corpus), so the per-doc groupBy partially aggregates each document to
    one slim row map-side before the only shuffle. Documents with zero tokens
    have no defined perplexity and are dropped (CCNet drops them too).

    ``oov_surprisal_u``: surprisal assigned to tokens absent from
    ``vocab`` (for trimmed/external vocabularies). ``None`` = inner-join
    semantics: OOV tokens are skipped entirely and ``n_tokens`` counts
    only scored tokens.
    """
    v = F.broadcast(vocab.select("word", "surprisal_u"))
    ex = docs.select("doc_id", F.explode(words_col("text")).alias("word"))
    if oov_surprisal_u is None:
        joined = ex.join(v, "word")
        su = F.col("surprisal_u")
    else:
        joined = ex.join(v, "word", "left")
        su = F.coalesce(F.col("surprisal_u"), F.lit(int(oov_surprisal_u)))
    return (
        joined.groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum(su).alias("sum_u"))
        .select(
            "doc_id",
            "n_tokens",
            "sum_u",
            F.floor(
                F.col("sum_u").cast("double") / F.col("n_tokens").cast("double")
            ).alias("mean_u"),
        )
    )


def perplexity_buckets(scores: DataFrame) -> DataFrame:
    """CCNet head/middle/tail split on the corpus' own score terciles.

    Adds ``bucket``: 'head' (lowest surprisal = most fluent), 'middle',
    'tail'. The cut points are the exact type-7 1/3 and 2/3 percentiles
    of ``mean_u`` (``F.percentile`` ≡ DuckDB ``quantile_cont``, the
    parity already proven by the events_percentiles oracle), computed as
    a 1-row aggregate and broadcast back — two scans, no corpus-sized
    shuffle.
    Integer-valued scores make the boundary comparison engine-exact: the
    interpolated threshold lands ON an integer only when the
    interpolation fraction is exactly 0 or the bracketing values are
    equal, and in both cases every engine computes it exactly.

    Same documented tradeoff as :func:`quality_trim`: the exact
    percentile ships every score (one slim row per doc) to a
    single aggregator — fine to ~1e9 docs; beyond that switch the cut
    to ``approx_percentile`` and accept a weaker oracle.
    """
    c = F.col("mean_u").cast("double")
    thr = scores.agg(
        F.percentile(c, F.lit(1.0 / 3.0)).alias("_lo"),
        F.percentile(c, F.lit(2.0 / 3.0)).alias("_hi"),
    )
    return (
        scores.join(F.broadcast(thr))
        .withColumn(
            "bucket",
            F.when(c <= F.col("_lo"), F.lit("head"))
            .when(c <= F.col("_hi"), F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
        .drop("_lo", "_hi")
    )


def corpus_rollup(docs: DataFrame) -> DataFrame:
    """Corpus composition report: docs / tokens / chars per (lang,
    source) with ROLLUP margins -> per-pair rows, per-lang subtotals,
    and a grand total, disambiguated by ``gid`` (``grouping_id``).

    The report every corpus release ships (tokens per language per
    source). ROLLUP computes all three levels in ONE map-side-combined
    aggregation pass — Spark expands the grouping sets before the
    exchange, so the shuffle carries ≤ (|lang|·|source| + |lang| + 1)
    rows per map partition, never the corpus. Group keys are
    sentinel-substituted ('<all>') on the rolled-up levels so the output
    is null-free (margin rows stay distinguishable via ``gid``).
    """
    n_toks = F.size(words_col("text"))
    agg = docs.rollup("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(n_toks).alias("n_tokens"),
        F.sum(F.length("text")).alias("n_chars"),
        (F.grouping("lang") * 2 + F.grouping("source")).alias("gid"),
    )
    # grouping() is only valid inside the agg; margin sentinels derive
    # from the gid bits afterwards (bit 1 = lang rolled, bit 0 = source)
    return agg.select(
        F.when(F.col("gid").bitwiseAND(2) != 0, F.lit("<all>"))
        .otherwise(F.col("lang"))
        .alias("lang_g"),
        F.when(F.col("gid").bitwiseAND(1) != 0, F.lit("<all>"))
        .otherwise(F.col("source"))
        .alias("source_g"),
        "gid",
        "n_docs",
        "n_tokens",
        "n_chars",
    )


def profile_columns(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """ANALYZE-style per-column profile: one row per column with
    (n_rows, n_nulls, n_distinct, min_val, max_val).

    The pre-flight report before any join/blocking decision — null
    rates decide scrub rules, distinct counts decide broadcast vs
    shuffle, min/max bound partition pruning. Everything folds into a
    SINGLE aggregation statement: Spark plans the N count(DISTINCT)
    aggregates with one Expand pass (the standard multi-distinct
    rewrite), so the corpus is read once; the 1-row result pivots to
    per-column rows driver-free via an inline array explode.

    min/max compute on the NATIVE type (numeric order for numerics,
    lexicographic for strings) and cast to string only for the unified
    report schema.
    """
    cols = list(cols) if cols is not None else list(df.columns)
    aggs: list[Column] = []
    for c in cols:
        qc = F.col(c)
        aggs += [
            F.count(F.lit(1)).alias(f"_n_{c}"),
            F.sum(qc.isNull().cast("long")).alias(f"_nn_{c}"),
            F.count_distinct(qc).alias(f"_nd_{c}"),
            F.min(qc).cast("string").alias(f"_mn_{c}"),
            F.max(qc).cast("string").alias(f"_mx_{c}"),
        ]
    one = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"_n_{c}").cast("long").alias("n_rows"),
                F.col(f"_nn_{c}").cast("long").alias("n_nulls"),
                F.col(f"_nd_{c}").cast("long").alias("n_distinct"),
                F.col(f"_mn_{c}").alias("min_val"),
                F.col(f"_mx_{c}").alias("max_val"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(per_col).alias("p")).select("p.*")


def bigrams_col(text_col: str | Column) -> Column:
    """Space-joined word bigrams; EMPTY for docs with < 2 tokens.

    Distinct from ``word_shingles(k=2)``, whose short-doc fallback
    (the whole text as one shingle) is right for dedup but wrong for a
    bigram LM — a one-word document has no bigram events.
    """
    w = words_col(text_col)
    n = F.size(w)
    return F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - F.lit(2)),
            lambda i: F.array_join(F.slice(w, i + 1, 2), " "),
        )
    )


def bigram_surprisals(docs: DataFrame) -> DataFrame:
    """Bigram conditional-surprisal table -> (bigram, cnt, ctx_cnt,
    surprisal_b).

    The order-2 upgrade of :func:`unigram_surprisals`:
    ``surprisal_b = floor(1e6 * ln(ctx_cnt / cnt))`` is the integer
    micro-nat −ln p(w2 | w1), where ``ctx_cnt`` is the count of
    bigrams STARTING with w1 — so the conditional distribution
    normalizes exactly (Σ_w2 cnt/ctx_cnt = 1) with no smoothing
    artifacts. Same exactness contract as the unigram table: integers
    from the vocab table onward, ln() parity caveat checked by the
    driver oracle on the fixed grids.

    Scale shape: one map-side-combined bigram-count groupBy, then the
    context totals come from a WINDOW over w1 on the (small) bigram
    table itself — no second corpus scan, no join.
    """
    from pyspark.sql import Window

    counts = (
        docs.select(F.explode(bigrams_col("text")).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .withColumn("_w1", F.split(F.col("bigram"), " ").getItem(0))
    )
    ctx = counts.withColumn(
        "ctx_cnt", F.sum("cnt").over(Window.partitionBy("_w1"))
    )
    return ctx.select(
        "bigram",
        "cnt",
        F.col("ctx_cnt").cast("long").alias("ctx_cnt"),
        F.floor(
            F.log(F.col("ctx_cnt").cast("double") / F.col("cnt").cast("double"))
            * F.lit(1e6)
        ).alias("surprisal_b"),
    )


def bigram_scores(docs: DataFrame, bigram_vocab: DataFrame) -> DataFrame:
    """Per-document mean bigram conditional surprisal -> (doc_id,
    n_bigrams, sum_b, mean_b).

    The CCNet perplexity filter one order up from
    :func:`surprisal_scores`: mean −ln p(w_i | w_{i-1}) in integer
    micro-nats (the bigram-LM cross-entropy of the document against
    the corpus model). Repetitive/templated text scores near zero,
    incoherent token soup scores high — a sharper fluency signal than
    the unigram mean, which is blind to word ORDER. Inner-join
    semantics: only in-vocab bigrams are scored and counted; docs with
    no scored bigram are dropped (no defined cross-entropy).
    ``floor(sum/n)`` exactness argument as in :func:`surprisal_scores`;
    the bigram vocabulary is broadcast the same way.
    """
    v = F.broadcast(bigram_vocab.select("bigram", "surprisal_b"))
    ex = docs.select("doc_id", F.explode(bigrams_col("text")).alias("bigram"))
    return (
        ex.join(v, "bigram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("surprisal_b").alias("sum_b"))
        .select(
            "doc_id",
            "n_bigrams",
            "sum_b",
            F.floor(
                F.col("sum_b").cast("double") / F.col("n_bigrams").cast("double")
            ).alias("mean_b"),
        )
    )


def pmi_collocations(
    docs: DataFrame,
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-``k`` collocations by pointwise mutual information ->
    (bigram, cnt, c_left, c_right, pmi_u).

    PMI(w1, w2) = ln( N·c12 / (c_left(w1)·c_right(w2)) ) over bigram
    events, with the marginals taken from the bigram table itself
    (c_left = Σ c12 over w1-rows, c_right = Σ over w2-rows) so the
    measure is exactly normalized and needs NO second corpus scan:
    after the one bigram-count groupBy, both marginals are windows over
    the (types-sized) count table and N is a 1-row broadcast aggregate
    — never an unpartitioned window, which would ship every bigram type
    to one task.

    ``pmi_u`` is integer micro-nats: the ratio is computed as
    ``(N·c12) / (c_left·c_right)`` in DOUBLE (three correctly-rounded
    ops on exactly-converted integers — bit-identical across engines,
    and immune to the BIGINT overflow ``c_left·c_right`` would hit at
    corpus scale), then floor(1e6·ln). ``min_count`` drops hapax noise
    (PMI's classic failure mode: a 1-occurrence pair of two rare words
    maxes the score); the top-k under (pmi_u desc, bigram asc) is a
    deterministic total order compiled to TakeOrderedAndProject.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from pyspark.sql import Window

    # checkpointed once: the grand total and the scored projection both
    # read the bigram-count table, and the total does NOT need the two
    # marginal windows — computing it from the base table keeps the
    # windows to one evaluation (previously the corpus explode+groupBy
    # and both windows ran twice)
    base_counts = (
        docs.select(F.explode(bigrams_col("text")).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .withColumn("_w1", F.split(F.col("bigram"), " ").getItem(0))
        .withColumn("_w2", F.split(F.col("bigram"), " ").getItem(1))
        .localCheckpoint()
    )
    counts = base_counts.withColumn(
        "c_left", F.sum("cnt").over(Window.partitionBy("_w1"))
    ).withColumn("c_right", F.sum("cnt").over(Window.partitionBy("_w2")))
    total = base_counts.agg(F.sum("cnt").cast("double").alias("_n"))
    scored = (
        counts.where(F.col("cnt") >= min_count)
        .join(F.broadcast(total))
        .select(
            "bigram",
            "cnt",
            F.col("c_left").cast("long").alias("c_left"),
            F.col("c_right").cast("long").alias("c_right"),
            F.floor(
                F.log(
                    (F.col("_n") * F.col("cnt").cast("double"))
                    / (F.col("c_left").cast("double") * F.col("c_right").cast("double"))
                )
                * F.lit(1e6)
            ).alias("pmi_u"),
        )
    )
    return scored.orderBy(F.desc("pmi_u"), F.asc("bigram")).limit(k)


def equiwidth_histogram(
    df: DataFrame, value_col: str, n_buckets: int = 20
) -> DataFrame:
    """Equi-width histogram of an integer column -> (bucket, n_rows,
    lo_v, hi_v), with data-derived bounds.

    The distribution report behind skew decisions (doc lengths, block
    sizes, cluster sizes). Bounds come from a 1-row min/max aggregate
    broadcast back; the bucket index is PURE INTEGER arithmetic —
    ``((v - lo) * nb) DIV (hi - lo + 1)`` over the half-open span
    [lo, hi+1) — so every engine buckets identically (float widths
    put boundary values in different buckets per libm). Empty buckets
    are absent (join a range() spine to densify if needed). Two scans
    of the value column, one map-side-combined groupBy whose key space
    is ``n_buckets``.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    v = F.col(value_col).cast("long")
    bounds = df.agg(
        F.min(v).cast("long").alias("_lo"), F.max(v).cast("long").alias("_hi")
    )
    return (
        df.select(v.alias("_v"))
        .join(F.broadcast(bounds))
        .select(
            F.expr(f"CAST(((_v - _lo) * {n_buckets}) DIV (_hi - _lo + 1) AS BIGINT)").alias(
                "bucket"
            ),
            "_v",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("_v").alias("lo_v"),
            F.max("_v").alias("hi_v"),
        )
    )


def duplicated_spans(docs: DataFrame, n: int = 5) -> DataFrame:
    """Exact substring-duplication spans (granular dedup) ->
    (doc_id, n_tokens, n_dup_tokens, n_spans, dup_fraction).

    The memorization-risk pass of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), re-expressed at token
    granularity: a token ``n``-gram is *duplicated* when it occurs at
    least twice corpus-wide — counting EVERY occurrence,
    including repeats inside a single document, which is exactly the
    definition under which a decoder can memorize the span. Each
    duplicated occurrence marks the token window ``[pos, pos+n-1]``;
    overlapping or touching windows merge into maximal spans (the
    contiguous duplicated regions an exact-substring deduper would cut).
    Unlike :func:`~pprl_spark.operators.dedup.winnow_near_duplicates`
    (SAMPLED fingerprints -> document-level candidates), this reports the
    exact duplicated token mass per document.

    Scale shape: grams travel as 8-byte rolling hashes with an int token
    position — text never shuffles. The gram-frequency table is a
    map-side-combined ``groupBy(gram).count()`` (no distinct); marking is
    a semi-join of occurrences against the ``cnt >= 2`` grams on
    the hash (AQE handles the skewed stop-grams — only matched POSITIONS
    survive, fan-out is 1:1 per occurrence). Span merging is one window
    over (doc_id, pos) on the duplicated positions only, which are rare
    by construction in a healthy corpus. Docs with zero duplicated grams
    are returned with zeros via a left join on the slim (doc_id,
    n_tokens) dim.

    ``dup_fraction = n_dup_tokens / n_tokens`` is a single division of
    two exact integers — exactly rounded, bit-identical across engines.
    Empty documents (no tokens) are excluded, mirroring
    :func:`decontaminate`. Short documents (fewer than ``n`` tokens)
    contribute their single whole-text shingle (``word_shingles``
    semantics); its span length is capped at ``n_tokens``.
    """
    if n < 1:
        raise ValueError(f"n must be positive, got {n}")
    w = words_col("text")
    # the per-gram rolling-hash fold is the expensive kernel and this
    # frame feeds three consumers (the frequency agg, the position
    # semi-join, and the doc dim) — localCheckpoint it once or the fold
    # runs three times (measured ~2x the whole operator at sf0.1)
    base = docs.select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        F.transform(word_shingles("text", n), lambda s: rolling_hash_col(s)).alias("_hs"),
    ).where(F.col("n_tokens") > 0).localCheckpoint()

    occ = base.select(
        "doc_id", "n_tokens", F.posexplode("_hs").alias("pos", "gram")
    )
    dup_grams = (
        occ.groupBy("gram")
        .agg(F.count("*").alias("_c"))
        .where(F.col("_c") >= 2)
        .select("gram")
    )
    hits = occ.join(dup_grams, "gram").select("doc_id", "n_tokens", "pos")

    from pyspark.sql import Window

    byref = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        hits.withColumn("_lag", F.lag("pos").over(byref))
        # windows [p, p+n-1] and [q, q+n-1] merge iff q - p <= n
        # (overlap or touch); a larger gap leaves an uncovered token
        .withColumn(
            "_new",
            F.when(
                F.col("_lag").isNull() | (F.col("pos") - F.col("_lag") > n), 1
            ).otherwise(0),
        )
        .withColumn("_span", F.sum("_new").over(byref))
        .groupBy("doc_id", "n_tokens", "_span")
        .agg(F.min("pos").alias("_s"), F.max("pos").alias("_e"))
        .select(
            "doc_id",
            "n_tokens",
            # covered tokens [s, e+n-1], capped for the short-doc
            # whole-text shingle whose window is the full document
            (F.least(F.col("_e") + n, F.col("n_tokens")) - F.col("_s")).alias(
                "_len"
            ),
        )
        .groupBy("doc_id", "n_tokens")
        .agg(
            F.sum("_len").cast("long").alias("n_dup_tokens"),
            F.count("*").cast("long").alias("n_spans"),
        )
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(spans.drop("n_tokens"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_dup_tokens", F.lit(0)).cast("long").alias("n_dup_tokens"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            (
                F.coalesce("n_dup_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("dup_fraction"),
        )
    )


def source_divergence(
    docs: DataFrame,
    group_col: str = "source",
) -> DataFrame:
    """Per-group unigram KL divergence from the corpus distribution ->
    (source, n_tokens, vocab_size, kl_u, kl).

    The distribution-drift report: KL(P_group || P_corpus) over word
    unigrams says which feed's language deviates most from the blend —
    the number behind "this source is boilerplate/spam/another domain"
    triage and per-source mixing-weight decisions.

    Exactness: every per-(group, word) term
    ``floor(1e6 * (n_gw/N_g) * ln((n_gw/N_g) / (n_w/N)))`` is floored to
    integer micro-nats BEFORE the per-group sum, so the sum is an
    integer aggregation — order- and partitioning-independent, where a
    double KL sum is neither (the same truncate-then-sum pattern as the
    surprisal operators; negative terms floor toward -inf on both
    engines). ``kl`` is the single exactly-rounded division kl_u/1e6.

    Scale shape: one map-side-combined (group, word) count, a join to
    the word-marginal table on the 8-byte-ish word key, broadcast
    1-row/`|groups|`-row totals, and a final integer sum per group —
    nothing corpus-sized shuffles twice.
    """
    # four consumers (group totals, word marginals, grand total, the KL
    # join) read the (group, word) count table — checkpoint it once or
    # Catalyst re-runs the explode+aggregate per consumer (measured 4x
    # the stage cost at sf0.1)
    per = (
        docs.select(F.col(group_col).alias("g"), F.explode(words_col("text")).alias("w"))
        .groupBy("g", "w")
        .agg(F.count("*").cast("long").alias("n_gw"))
        .localCheckpoint()
    )
    tot_g = per.groupBy("g").agg(F.sum("n_gw").cast("long").alias("n_g"))
    corpus_w = per.groupBy("w").agg(F.sum("n_gw").cast("long").alias("n_w"))
    n_total = per.agg(F.sum("n_gw").cast("long").alias("n_all"))
    pg = F.col("n_gw").cast("double") / F.col("n_g").cast("double")
    pq = F.col("n_w").cast("double") / F.col("n_all").cast("double")
    term_u = F.floor(F.lit(1000000.0) * pg * F.log(pg / pq)).cast("long")
    j = (
        per.join(corpus_w, "w")
        .join(F.broadcast(tot_g), "g")
        .join(F.broadcast(n_total))
        .select("g", "n_g", term_u.alias("_t"))
    )
    return j.groupBy("g", "n_g").agg(
        F.count("*").cast("long").alias("vocab_size"),
        F.sum("_t").cast("long").alias("kl_u"),
    ).select(
        F.col("g").alias(group_col),
        F.col("n_g").alias("n_tokens"),
        "vocab_size",
        "kl_u",
        (F.col("kl_u").cast("double") / F.lit(1000000.0)).alias("kl"),
    )
