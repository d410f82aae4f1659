"""Exact set-similarity self-join via prefix filtering (AllPairs/PPJoin).

The LOSSLESS counterpart of the MinHash-LSH near-dup path
(``operators/dedup.py``): returns every pair with Jaccard >= t, not a
banding-probability sample of them.  The reference's all-pairs compare
(reference ``src/pprl/matching.py`` similarity loop) is quadratic;
MinHash trades recall for scale; prefix filtering keeps EXACTNESS and
still prunes the candidate space, because two sets with Jaccard >= t
must share a token in their (small) rarest-token prefixes:

- canonical order: every doc's distinct tokens sorted by (global df,
  token) ascending — rarest first.  df comes from a map-side-combined
  ``groupBy(token).count()`` hash-joined back onto the exploded tokens
  (skew-safe: a hub token never sorts its posting list in one window
  task), then one row_number window over the doc partition.
- prefix: asymmetric (AllPairs).  The LARGER record of a pair probes
  with its first ``n - ceil(t*n) + 1`` tokens; the SMALLER record is
  indexed by only its first ``n - ceil(2t/(1+t)*n) + 1`` tokens
  (0.43n vs 0.6n at t=0.4).  Lossless: for a matching pair with
  n_small <= n_big the required overlap a = ceil(t/(1+t)*(n_big +
  n_small)) satisfies a >= ceil(t*n_big) (because n_small >= t*n_big)
  AND a >= ceil(2t/(1+t)*n_small) (because n_big >= n_small), and the
  FIRST common token in canonical order sits within position
  n - a + 1 on BOTH sides — so it lands in the big side's probing
  prefix and the small side's indexing prefix.  The join takes
  probe x index with a (n, id)-lexicographic role condition, so every
  unordered pair is considered exactly once with the correct roles.
  Prefixes select the LOW-df tokens by construction, so join blocks
  are naturally small (the skew story: hub tokens like stopwords fall
  out of prefixes for all but the shortest docs).
- length filter: one-sided ``n_i >= t * n_p`` (index size vs probe
  size), else Jaccard < t.  It equals the symmetric
  ``min(n1,n2) >= t * max(n1,n2)`` only because the (n, id) role
  condition above makes the index side the smaller record; an edit to
  the role condition must revisit this filter.
- positional filter (PPJoin): a candidate generated at prefix
  positions (p1, p2) can overlap at most min(n1-p1, n2-p2) + 1; if
  that is below the required overlap ceil(t/(1+t) * (n1+n2)) the
  generation is pruned.  Losslessness: for a true match the FIRST
  common token (canonical order) always satisfies the bound, and a
  pair survives if ANY of its generations does.
- overlap bound: each doc carries a 512-bit token bitmap (bit
  ``pmod(xxhash64(token), 512)``) and its excess ``e = n - popcount``,
  one ``array<bigint>`` of 9 on the prefix table.  A generation is
  dropped, before the pair-dedupe exchange, when ``popcount(A&B) +
  min(eA, eB)`` is below the required overlap.  Sound: every common
  token sets the same bit on both sides; a bucket holding c >= 1
  common tokens adds 1 to the AND-popcount, and its other c - 1 are
  among that side's c_A - 1 surplus tokens in the bucket, whose sum
  over all buckets is e.  So ``|A∩B| <= popcount(A&B) + min(eA, eB)``
  whatever collides; a bare AND-popcount undercounts colliding common
  tokens and would drop true pairs.  Sets far larger than 512 tokens
  stay exact; the bound just prunes less.
- verify: join the distinct token arrays back for the candidate pairs
  only and test ``|A∩B| * den >= num * |A∪B|``.

Exactness contract: the threshold is converted to an exact rational
num/den, so every comparison (prefix length, length filter, positional
bound, final threshold) is INTEGER arithmetic — no float-boundary
drift between engines or between this and the naive join.  The
reported ``jaccard`` is one correctly-rounded int→double division.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BITMAP_WORDS = 8  # 512 bits, sized for the <= ~100-token docs the callers join


def _base(df: DataFrame) -> DataFrame:
    """``(_id, _tk, _n, _bm)`` over the non-empty docs of ``(doc_id,
    tokens)``: distinct tokens, their count, and ``_bm`` = the 512-bit
    token bitmap as 8 longs followed by its excess ``_n - popcount``.

    Materialized BEFORE the n > 0 filter: filtering on a projected alias
    pushes the predicate below the projection, re-evaluating the (often
    expensive — shingle folds) token expression once for the filter and
    once for the column. Post-checkpoint, size() reads a stored array.
    """
    mat = df.select(
        F.col("doc_id").alias("_id"), F.array_distinct(F.col("tokens")).alias("_tk")
    ).localCheckpoint()
    # one pass: bucket each token, OR its bit into the 8-word
    # accumulator, then append the excess n - popcount
    bitmap = (
        "aggregate("
        f"transform(_tk, x -> CAST(pmod(xxhash64(x), {64 * _BITMAP_WORDS}) AS INT)), "
        f"array_repeat(0L, {_BITMAP_WORDS}), "
        "(acc, b) -> transform(acc, (w, i) -> "
        "IF(i = b DIV 64, w | shiftleft(1L, b % 64), w)), "
        "acc -> concat(acc, "
        "array(_n - aggregate(acc, 0L, (s, w) -> s + bit_count(w)))))"
    )
    return (
        mat.withColumn("_n", F.size("_tk").cast("long"))
        .filter(F.col("_n") > 0)
        .withColumn("_bm", F.expr(bitmap))
    )


def _overlap_bound(bm1: str, bm2: str) -> Column:
    """Sound upper bound on |A∩B| from two ``_base`` bitmaps:
    ``popcount(A&B) + min(eA, eB)`` (the module docstring's argument)."""
    ones = " + ".join(
        f"bit_count({bm1}[{w}] & {bm2}[{w}])" for w in range(_BITMAP_WORDS)
    )
    e = _BITMAP_WORDS
    return F.expr(f"{ones} + least({bm1}[{e}], {bm2}[{e}])")


def jaccard_join(
    df: DataFrame,
    threshold: float | str = 0.5,
    positional: bool = True,
) -> DataFrame:
    """All pairs (id1 < id2) with exact token-set Jaccard >= threshold.

    ``df`` carries one row per ``doc_id`` with an array column ``tokens``
    (dupes are removed here).  Returns
    ``(id1, id2, n1, n2, intersection, jaccard)``.

    The tokenized base and the ranked prefix table are
    ``localCheckpoint``-ed, which cuts the FOUR evaluations a naive plan
    performs (prefix pipeline on both sides of the self-join, token
    arrays on both sides of the verify join) to ONE: every join probes
    the checkpointed frame.
    """
    frac = Fraction(str(threshold))
    num, den = frac.numerator, frac.denominator
    if not 0 < frac <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold!r}")

    base = _base(df)
    ex = base.select("_id", "_n", "_bm", F.explode("_tk").alias("_t"))
    # Token document frequency via map-side-combined aggregation + hash
    # join, NOT count() over a token-partitioned window: a hub token (a
    # stopword-grade shingle present in half the corpus) would put its
    # whole posting list into ONE window partition and sort it in a
    # single task, while the groupBy partial-aggregates map-side (the
    # shuffle carries one row per distinct token per map partition) and
    # the join back is AQE-skew-splittable. shuffle_hash on the tiny df
    # side avoids sort-merge's full sort of the exploded token table.
    tok_df = ex.groupBy("_t").agg(F.count("*").alias("_df"))
    ranked = ex.join(tok_df.hint("shuffle_hash"), "_t").withColumn(
        "_pos",
        F.row_number()
        .over(Window.partitionBy("_id").orderBy("_df", "_t"))
        .cast("long"),
    )
    # probing prefix n - ceil(t*n) + 1 in exact integers:
    # ceil(num*n/den) = (num*n + den - 1) DIV den
    prefix_len = F.expr(f"_n - ((_n * {num} + {den - 1}) DIV {den}) + 1")
    pref = (
        ranked.filter(F.col("_pos") <= prefix_len)
        .select("_id", "_t", "_n", "_pos", "_bm")
        .localCheckpoint()
    )
    # indexing prefix n - ceil(2t/(1+t)*n) + 1 (always <= probing
    # prefix, so it filters the materialized probe-prefix table):
    # ceil(2*num*n/(num+den)) = (2*num*n + num+den-1) DIV (num+den)
    index_len = F.expr(
        f"_n - ((_n * {2 * num} + {num + den - 1}) DIV {num + den}) + 1"
    )

    a = pref.select(
        F.col("_id").alias("_pid"),
        "_t",
        F.col("_n").alias("_pn"),
        F.col("_pos").alias("_pp"),
        F.col("_bm").alias("_pbm"),
    )
    b = pref.filter(F.col("_pos") <= index_len).select(
        F.col("_id").alias("_iid"),
        "_t",
        F.col("_n").alias("_in"),
        F.col("_pos").alias("_ip"),
        F.col("_bm").alias("_ibm"),
    )
    cand = (
        a.join(b, "_t")
        # role condition: the index side is the (n, id)-lexicographically
        # smaller record, so each unordered pair is generated once with
        # the larger record probing — the asymmetry that lets the index
        # prefix be shorter
        .filter(
            (F.col("_in") < F.col("_pn"))
            | ((F.col("_in") == F.col("_pn")) & (F.col("_iid") < F.col("_pid")))
        )
        # length filter (index side is the smaller): n_i >= t * n_p
        .filter(F.col("_in") * F.lit(den) >= F.col("_pn") * F.lit(num))
    )
    if positional:
        # ub = min(n_p-p_p, n_i-p_i) + 1 >= ceil(num*(n_p+n_i)/(num+den))
        ub = F.least(
            F.col("_pn") - F.col("_pp"), F.col("_in") - F.col("_ip")
        ) + F.lit(1)
        cand = cand.filter(
            ub * F.lit(num + den) >= (F.col("_pn") + F.col("_in")) * F.lit(num)
        )
    # bitmap overlap bound: the last filter before the dedupe exchange
    cand = cand.filter(
        _overlap_bound("_pbm", "_ibm") * F.lit(num + den)
        >= (F.col("_pn") + F.col("_in")) * F.lit(num)
    )
    cand = cand.select(
        F.least("_pid", "_iid").alias("id1"),
        F.greatest("_pid", "_iid").alias("id2"),
    ).dropDuplicates(["id1", "id2"])

    s1 = base.select(F.col("_id").alias("id1"), F.col("_tk").alias("_tk1"))
    s2 = base.select(F.col("_id").alias("id2"), F.col("_tk").alias("_tk2"))
    inter = F.size(F.array_intersect("_tk1", "_tk2")).cast("long")
    n1 = F.size("_tk1").cast("long")
    n2 = F.size("_tk2").cast("long")
    i = F.col("intersection")
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .withColumn("intersection", inter)
        # i / (n1 + n2 - i) >= num/den in integers, with i appearing once
        .filter(i * F.lit(num + den) >= (n1 + n2) * F.lit(num))
        .select(
            "id1",
            "id2",
            n1.alias("n1"),
            n2.alias("n2"),
            "intersection",
            (i.cast("double") / (n1 + n2 - i).cast("double")).alias("jaccard"),
        )
    )


def containment_join(
    probe: DataFrame,
    target: DataFrame,
    threshold: float | str = 0.5,
) -> DataFrame:
    """Exact ASYMMETRIC containment join: every (probe, target) pair
    with |P∩T| / |P| >= threshold — "probe is mostly inside target".
    Both sides carry (doc_id, tokens).

    The quote/boilerplate/plagiarism shape Jaccard cannot express: a
    short passage inside a long document has tiny Jaccard but full
    containment. Exact prefix filtering still applies, one-sided: a
    probe needs overlap α = ceil(t·nP), so ANY nP−α+1 of its tokens
    include a shared one (pigeonhole — for any ordering), and only the
    probe's rarest-first prefix joins the target's inverted index.

    Scale shape: the target-side df is a map-side-combined token count
    left-joined onto the probe tokens (absent tokens coalesce to df 0),
    so probe tokens absent from the target rank rarest and generate
    zero candidates, and no hub token ever sorts its posting list in a
    single window task. The candidate
    join probes the target's FULL posting lists — that is inherent to
    containment (the target has no prefix), so hub-token postings are
    the cost driver; rarest-first probe prefixes keep hub tokens out of
    the join for all but the most common-word-only probes. Each
    generation must pass the bitmap overlap bound of the module
    docstring (``bound·den >= num·nP``) before the pair dedupe.
    Verification joins the distinct token arrays back for candidates
    only; the
    threshold comparison is integer-rational (``inter·den >= num·nP``),
    exactness-checked against the naive join in tests and the driver
    oracle.
    """
    frac = Fraction(str(threshold))
    num, den = frac.numerator, frac.denominator
    if not 0 < frac <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold!r}")

    pb, tb = _base(probe), _base(target)
    t_ex = tb.select("_id", "_n", "_bm", F.explode("_tk").alias("_t"))
    p_ex = pb.select("_id", "_n", "_bm", F.explode("_tk").alias("_t"))
    # Target-side document frequency via map-side-combined aggregation +
    # LEFT hash join (probe tokens absent from the target coalesce to
    # df 0 -> rank rarest-first and generate zero candidates), replacing
    # the tagged-union conditional window: a hub token would sort its
    # whole posting list in one window task, while the groupBy partial-
    # aggregates map-side and the join back is AQE-skew-splittable.
    tdf = t_ex.groupBy("_t").agg(F.count("*").alias("_df"))
    # probe prefix: first nP - ceil(t*nP) + 1 tokens, rarest-in-target first
    ranked = (
        p_ex.join(tdf.hint("shuffle_hash"), "_t", "left")
        .withColumn("_df", F.coalesce("_df", F.lit(0)))
        .withColumn(
            "_pos",
            F.row_number()
            .over(Window.partitionBy("_id").orderBy("_df", "_t"))
            .cast("long"),
        )
    )
    prefix_len = F.expr(f"_n - ((_n * {num} + {den - 1}) DIV {den}) + 1")
    pref = ranked.filter(F.col("_pos") <= prefix_len)

    cand = (
        pref.select(
            F.col("_id").alias("probe_id"),
            "_t",
            F.col("_n").alias("n_probe"),
            F.col("_bm").alias("_pbm"),
        )
        .join(
            t_ex.select(
                F.col("_id").alias("target_id"),
                "_t",
                F.col("_n").alias("n_target"),
                F.col("_bm").alias("_tbm"),
            ),
            "_t",
        )
        # the target must be able to hold α common tokens: nT >= t*nP
        .filter(F.col("n_target") * F.lit(den) >= F.col("n_probe") * F.lit(num))
        # bitmap overlap bound (jaccard_join's), before the dedupe
        .filter(
            _overlap_bound("_pbm", "_tbm") * F.lit(den)
            >= F.col("n_probe") * F.lit(num)
        )
        .select("probe_id", "target_id")
        .dropDuplicates(["probe_id", "target_id"])
    )
    s1 = pb.select(F.col("_id").alias("probe_id"), F.col("_tk").alias("_tk1"))
    s2 = tb.select(F.col("_id").alias("target_id"), F.col("_tk").alias("_tk2"))
    inter = F.size(F.array_intersect("_tk1", "_tk2")).cast("long")
    return (
        cand.join(s1, "probe_id")
        .join(s2, "target_id")
        .withColumn("intersection", inter)
        .filter(
            F.col("intersection") * F.lit(den)
            >= F.size("_tk1").cast("long") * F.lit(num)
        )
        .select(
            "probe_id",
            "target_id",
            F.size("_tk1").cast("long").alias("n_probe"),
            F.size("_tk2").cast("long").alias("n_target"),
            "intersection",
            (
                F.col("intersection").cast("double")
                / F.size("_tk1").cast("double")
            ).alias("containment"),
        )
    )
