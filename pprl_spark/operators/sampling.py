"""Deterministic content-addressed sampling for training-data pipelines.

A 100 TB corpus is downsampled per language/quality/source stratum before
training; the sampler must be (a) a pure map-side filter — no shuffle, no
driver state, pushdown-friendly — and (b) REPRODUCIBLE independent of
partitioning: ``df.sample`` seeds its RNG per partition, so the kept set
changes whenever partitioning does (repartition, AQE coalesce, resume
from a differently-bucketed stage table). Hashing the row KEY instead
makes membership a pure function of (key, salt): re-runs, retries and
resumes keep exactly the same rows, and the per-stratum rate can be
audited after the fact by recomputing the hash.

The hash is the top 60 bits of sha256(salt || ":" || key) — both engines
(Spark ``sha2``/``conv``, DuckDB ``sha256``/hex cast) compute the
identical value, so the driver's oracle verifies the sampled set
value-exactly. xxhash64 would be cheaper but is Spark-private; sampling
runs once per corpus pass and the cost is one digest per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PPM = 1_000_000  # rates are resolved to parts-per-million


def sample_hash(key: Column, salt: int = 0) -> Column:
    """Uniform bigint in [0, 2^60) from sha256(salt:key) — the first 15
    hex digits of the digest (DuckDB twin: ('0x' || substring(...))::BIGINT)."""
    s = F.concat(F.lit(f"{salt}:"), key.cast("string"))
    return F.conv(F.substring(F.sha2(s, 256), 1, 15), 16, 10).cast("bigint")


def _keep(key: Column, salt: int, rate_ppm: Column) -> Column:
    return F.pmod(sample_hash(key, salt), F.lit(PPM)) < rate_ppm


def hash_sample(df: DataFrame, fraction: float, salt: int = 0) -> DataFrame:
    """Keep ~``fraction`` of rows, deterministically by ``doc_id`` hash."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    return df.where(_keep(F.col("doc_id"), salt, F.lit(int(round(fraction * PPM)))))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: int = 0,
) -> DataFrame:
    """Per-stratum deterministic rates (e.g. keep 100% of rare languages,
    5% of English): rows in stratum s survive iff hash(doc_id) mod 1e6 <
    rate(s). The rate map compiles to a chained CASE — a pure projection,
    so the whole operator is one codegen'd filter with NO join and NO
    shuffle; a rate map too large for a CASE chain (thousands of strata)
    should instead be joined as a broadcast dim table.
    """
    for k, v in fractions.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"fraction for stratum {k!r} must be in [0,1], got {v}")
    rate = F.lit(int(round(default_fraction * PPM)))
    # build the when-chain in sorted order so the plan (and any plan
    # fingerprint) is stable across dict orderings
    expr = None
    for k in sorted(fractions):
        ppm = F.lit(int(round(fractions[k] * PPM)))
        cond = F.col(strata_col) == F.lit(k)
        expr = F.when(cond, ppm) if expr is None else expr.when(cond, ppm)
    rate_col = rate if expr is None else expr.otherwise(rate)
    return df.where(_keep(F.col("doc_id"), salt, rate_col))


def stratified_sample_table(
    df: DataFrame,
    rates: DataFrame,
    strata_col: str,
    default_fraction: float = 0.0,
    salt: int = 0,
) -> DataFrame:
    """:func:`stratified_sample` for rate maps too large for a CASE chain
    (thousands of strata — e.g. per-domain rates): the rates arrive as a
    ``(stratum, fraction)`` DataFrame and attach via a broadcast left
    join, then the identical keep predicate applies. Same determinism
    contract; the only added cost is one broadcast of the (small) rate
    table — rows still never shuffle.
    """
    r = rates.select(
        F.col("stratum").alias(strata_col),
        # round like the dict variant's int(round(...)) — a truncating
        # cast would disagree by 1 ppm on fractions like 0.123456
        F.round(F.col("fraction") * PPM).cast("long").alias("_rate_ppm"),
    )
    joined = df.join(F.broadcast(r), strata_col, "left")
    rate = F.coalesce(F.col("_rate_ppm"), F.lit(int(round(default_fraction * PPM))))
    return joined.where(_keep(F.col("doc_id"), salt, rate)).drop("_rate_ppm")


def token_budget_sample(
    df: DataFrame,
    strata_col: str,
    budgets: dict[str, int],
    n_tokens_col: str,
    default_budget: int | None = None,
    salt: int = 0,
) -> DataFrame:
    """Downsample each stratum to an EXPECTED token budget — the
    training-mixture primitive ("2B tokens of en, 500M of zh, ...").

    One map-side-combined aggregation computes per-stratum token totals
    (a tiny table: strata are languages/domains, collected to the
    driver where ``rate_ppm = budget*1e6 // total`` is computed in exact
    arbitrary-precision integers — no float/decimal rounding to diverge
    from an oracle), then the whole sample is the same codegen'd
    content-addressed filter as :func:`stratified_sample`: deterministic
    by (key, salt), no shuffle, no join, invariant under repartition and
    resume. Strata over budget keep ~budget tokens in expectation;
    strata under budget keep everything; strata with no budget and
    ``default_budget=None`` are dropped.
    """
    totals = {
        r[0]: r[1]
        for r in df.groupBy(strata_col).agg(F.sum(n_tokens_col)).collect()
        if r[1] is not None
    }
    fractions: dict[str, float] = {}
    for s, total in totals.items():
        b = budgets.get(s, default_budget)
        if b is None or total <= 0:
            continue
        ppm = min(PPM, (int(b) * PPM) // int(total))
        # integer ppm / PPM round-trips exactly through
        # stratified_sample's int(round(f * PPM))
        fractions[s] = ppm / PPM
    return stratified_sample(df, strata_col, fractions, default_fraction=0.0, salt=salt)


def pair_review_sample(
    pairs: DataFrame,
    k_per_bin: int = 5,
    n_bins: int = 20,
    salt: int = 0,
) -> DataFrame:
    """Deterministic clerical-review sample -> (bin, id1, id2, sim, rk).

    The human-in-the-loop step of every production linkage: pull a fixed
    number of candidate pairs from EACH score bin (not just the gray
    zone — reviewers need confident-looking pairs to catch calibration
    drift too) for manual adjudication. Selection must be reproducible
    across re-runs and partitionings, so pairs are ranked within their
    bin by ``sample_hash(id1:id2, salt)`` — a pure function of the pair
    identity — with (id1, id2) as the total-order tie-break, and the
    top ``k_per_bin`` survive.

    Scale shape: one hash projection plus a per-bin ranking window whose
    partitions are the ≤ ``n_bins + 1`` score bins; with rank pushdown
    (WindowGroupLimit) each partition keeps a k-row ordered buffer
    map-side rather than sorting the full pair table. The output is
    ≤ ``(n_bins + 1) * k_per_bin`` rows regardless of corpus size.
    """
    if k_per_bin <= 0:
        raise ValueError(f"k_per_bin must be positive, got {k_per_bin}")
    if n_bins <= 0:
        raise ValueError(f"n_bins must be positive, got {n_bins}")
    from pyspark.sql import Window

    h = sample_hash(
        F.concat(F.col("id1").cast("string"), F.lit(":"), F.col("id2").cast("string")),
        salt,
    )
    binned = pairs.select(
        F.least(F.floor(F.col("sim") * n_bins).cast("long"), F.lit(n_bins)).alias(
            "bin"
        ),
        "id1",
        "id2",
        "sim",
        h.alias("_h"),
    )
    w = Window.partitionBy("bin").orderBy("_h", "id1", "id2")
    return (
        binned.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k_per_bin)
        .drop("_h")
    )


def entity_consistent_split(
    df: DataFrame,
    splits: list[tuple[str, float]],
    salt: int = 0,
) -> DataFrame:
    """Assign a leakage-free train/valid/test split -> df + ``split``.

    Splitting by document hash leaks: near-duplicate documents land on
    both sides of the train/eval boundary, and the model is scored on
    its own training data (the contamination the dedup literature keeps
    measuring). Splitting by the ENTITY key ``entity_id`` instead — the
    connected-component canonical id of the near-dup graph — puts every
    member of a duplicate group in the same split by construction.
    Membership is the usual content-addressed hash (pure function of
    entity + salt): reproducible across runs, partitionings and resumes,
    auditable after the fact.

    ``splits`` is an ordered [(name, fraction), ...] list; fractions
    must sum to 1 within 1 ppm (resolution of the hash buckets). The
    assignment compiles to one codegen'd CASE over ``hash % 1e6`` —
    a pure projection: no shuffle, no join, no action.
    """
    if not splits:
        raise ValueError("splits must be non-empty")
    total_ppm = sum(int(round(f * PPM)) for _, f in splits)
    if abs(total_ppm - PPM) > len(splits):
        raise ValueError(
            f"split fractions must sum to 1 (got {total_ppm / PPM:.6f})"
        )
    h = F.pmod(sample_hash(F.col("entity_id"), salt), F.lit(PPM))
    acc = 0
    expr = None
    for name, frac in splits[:-1]:
        acc += int(round(frac * PPM))
        cond = h < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = splits[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def weighted_sample(
    df: DataFrame,
    prob_col: str | Column,
    salt: int = 0,
) -> DataFrame:
    """Keep each row with ITS OWN probability, deterministically.

    The soft-filtering step of CCNet-style curation: instead of a hard
    quality cutoff, each document survives with probability equal to a
    per-row score in [0, 1] (quality, language weight, freshness decay —
    any computed column). Membership is ``hash(doc_id, salt) % 1e6 <
    floor(p * 1e6)`` — a pure function of (key, salt, p): reproducible
    across partitionings/resumes, auditable after the fact, and exactly
    mirrorable in SQL (unlike ``rand()``-based Bernoulli sampling, which
    is per-partition-seeded and unverifiable). One codegen'd projection
    + filter: no shuffle, no action. Probabilities are clamped to
    [0, 1]; resolution is 1 ppm.
    """
    p = F.col(prob_col) if isinstance(prob_col, str) else prob_col
    rate = F.floor(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), p)) * F.lit(float(PPM))
    ).cast("long")
    return df.where(F.pmod(sample_hash(F.col("doc_id"), salt), F.lit(PPM)) < rate)
